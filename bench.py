"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>}

Execution is forced with the noop sink (full computation, no driver
collect), so timings measure the distributed plan, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from cloudfabric_eventsourcing_spark.session import build_session  # noqa: E402

HEADLINE = [
    "h1_pricing_summary",
    "h2_revenue_by_nation",
    "h3_top_customers",
    "h8_shipping_priority",
    "a2_max_stream_version",
    "a4_projection_fold_counts",
    "a5_projection_fold_sum",
    "f10_bool_tree",
    "f13_search_text",
    "o1_multi_sort_limit",
    "h9_order_priority_check",
    "h10_promo_revenue_share",
    "h11_large_volume_customers",
    "h12_rich_idle_customers",
    "h13_cube_revenue",
    "h14_distinct_customers_per_nation",
    "h15_nation_volume_shipping",
    "h16_priority_status_matrix",
    "h17_top_supplier_revenue",
    "h18_small_quantity_revenue",
    "h19_forecast_discount_revenue",
    "h20_brand_size_quantity_revenue",
    "h21_major_revenue_nations",
    "f16_search_tokenized",
    "f17_search_scored",
    "h4_semi_join_high_value_orders",
    "h5_anti_join_customers_without_p_orders",
    "h6_window_top3_orders_per_customer",
    "x01_asof_join",
    "x02_sessionization",
    "p04_minhash_lsh_pairs",
    "s01_ann_brute_force_topk",
    "t06_repetition_stats",
    "p11_boilerplate_lines",
    "p12_pack_offsets",
    "h22_min_price_supplier",
    "h23_market_share",
    "h24_product_profit",
    "h25_customer_distribution",
    "h26_brand_supplier_counts",
    "h27_waiting_suppliers",
    "p13_duplicate_clusters",
    "t07_vocab_topk",
    # r9 selection/media families, driver-tracked from r10 so their
    # perf regressions are visible round-over-round (r9 verdict ask #2);
    # oracle_sec records DuckDB where its SQL completes, null = DNF
    "p16_winnowing_overlap",
    "p17_duplicated_spans",
    "p18_semdedup",
    "p19_dsir_weights",
    "m02_image_neardup",
    # r10 rows, driver-tracked from day one
    "t09_lexical_diversity",
    "s04_embedding_quantize",
    "s05_quantized_topk",
    "x06_last_touch_attribution",
    "m05_image_dhash_neardup",
    "t10_unigram_surprisal",
    "o5_keyset_pagination",
    # r11 rows, driver-tracked from day one
    "o6_keyset_nulls",
    "p21_simhash_weighted",
    "x07_hourly_gapfill",
    "x08_event_transitions",
    "p22_line_dedup_first",
    "s06_pq_adc_topk",
    # r12 rows, driver-tracked from day one
    "s07_pq_planted",
    # r14 rows, driver-tracked from day one.  p24 (two-level SemDeDup)
    # is deliberately NOT benched: its registry config is the
    # exactness pin (coarse_nprobe = all cells — strictly more work
    # than the one-level kernel by construction); benching it would
    # price the proof harness, not the production nprobe=1 shape.
    "p23_url_dedup_domain_mix",
]

#: rows whose sf10 wall exceeds ~10 s — benched in a fresh session after
#: the light rows (r12 verdict #1: in-suite GC/page-cache residue tripled
#: t06's wall; standalone interleave read 12.8 s vs 43.7 s in-suite)
HEAVY_ROWS = frozenset(
    {
        "p04_minhash_lsh_pairs",
        "p13_duplicate_clusters",
        "p16_winnowing_overlap",
        "p17_duplicated_spans",
        "p18_semdedup",
        "p19_dsir_weights",
        "s06_pq_adc_topk",
        "t06_repetition_stats",
    }
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir
    # scale-study knobs (unset in driver runs): run a query subset /
    # skip the store benches (append/reload/replay measure the event
    # store, not the scanned sf dir — no reason to re-run them per scale)
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = (
        [q for q in HEADLINE if q in set(only.split(","))] if only else HEADLINE
    )
    skip_store = os.environ.get("SPARK_GRAFT_BENCH_SKIP_STORE") == "1"
    # pre-warm pass (r12 verdict stretch #10): page-cache state is part
    # of the experiment — three r12 runs were burned discovering that a
    # prior run's 14 GB materialization had evicted the working set and
    # cold ~40 MB/s reads inflated scan-bound rows up to 10x.  One
    # sequential read of the sf dir (plus the bucketed layout, below,
    # after it exists) pins the warm-set state the walls assume; the
    # payload records it so cross-round walls are comparable by
    # contract, not by luck.  SPARK_GRAFT_PREWARM=0 opts out.
    marker_start = _host_marker()
    prewarm_s = None
    if os.environ.get("SPARK_GRAFT_PREWARM", "1") != "0":
        t0 = time.perf_counter()
        prewarm_bytes = _prewarm_dir(sf_dir)
        prewarm_s = round(time.perf_counter() - t0, 1)
    # T-append runs BEFORE the JVM exists: it is a pure-driver benchmark
    # and a live local[32] Spark JVM (GC + scheduler threads) costs it
    # ~35% throughput — measure the store, not the neighbor
    # best-of-3 with a settle pause, like the query timings take best-of-2:
    # the append benches run single-shot first in the suite, exactly where
    # lingering system load (a prior test run's tail, a neighbor's JVM
    # teardown) hits hardest — one contaminated sample measured 9/s on a
    # machine that does 55/s ten minutes later, and back-to-back samples
    # under the same transient both read low. The pause lets a decaying
    # load spike clear between attempts; the max is the store's rate.
    def _best_of(fn, attempts=3, settle_s=2.0):
        best = 0.0
        for i in range(attempts):
            if i:
                time.sleep(settle_s)
            best = max(best, fn())
        return best

    if skip_store:
        append_rate = reload_plain = reload_snap = append_rate_2proc = None
    else:
        append_rate = _best_of(lambda: _bench_append_scenarios(n=100))
        reload_plain, reload_snap = _bench_long_stream_reload()
        append_rate_2proc = _best_of(
            lambda: _bench_append_scenarios_2proc(n=100)
        )
    spark = build_session(app_name="cfes-bench")

    # bucketed fact layout (sources/bucketing.py): one-time write (cost
    # reported separately), then every lineitem<->orders join in the
    # suite runs shuffle-free on the fact side via load_table's
    # transparent pickup.  Set SPARK_GRAFT_NO_BUCKETED=1 to A/B the
    # plain path.
    from cloudfabric_eventsourcing_spark.sources.bucketing import (
        ensure_bucketed_layout,
    )

    t0 = time.perf_counter()
    layout = ensure_bucketed_layout(spark, sf_dir)
    layout_s = round(time.perf_counter() - t0, 2)
    if prewarm_s is not None:
        # the layout dir is read by most star queries — warm it too
        t0 = time.perf_counter()
        prewarm_bytes += _prewarm_dir(layout["dir"])
        prewarm_s = round(prewarm_s + time.perf_counter() - t0, 1)

    qs = entry_mod.queries()
    # warm-up: JVM/codegen/parquet footer caches
    qs["a1_total_count"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    build_costs: dict[str, float] = {}
    errors: dict[str, str] = {}
    # >10s-at-sf10 rows run LAST, in a FRESH session (r12 verdict #1):
    # the t06 adjudication measured 43.7 s in-suite vs 12.8 s standalone
    # for UNTOUCHED code — a long session's GC/page-cache residue biases
    # exactly the rows big enough to matter, the same in-suite bias that
    # moved the curation legs to a fresh session in r12.  Splitting by
    # wall (not family) keeps the light 50+ rows cheap to interleave.
    heavy = [q for q in headline if q in HEAVY_ROWS]
    ordered = [q for q in headline if q not in HEAVY_ROWS] + heavy
    marker_heavy = None
    for name in ordered:
        if name in HEAVY_ROWS:
            if marker_heavy is None:
                marker_heavy = _host_marker()
            # fresh session PER heavy row, not per group: the first r13
            # sf10 run proved the group self-contaminates — t06 read
            # 37 s after p04's two ~225 s reps in the same "fresh"
            # session vs 12.8 s truly standalone.  ~15 s restart per
            # row buys walls that mean what they claim.
            print(f"-- bench: fresh session for heavy row {name}",
                  file=sys.stderr, flush=True)
            spark = _fresh_session(spark)
            ensure_bucketed_layout(spark, sf_dir)
            qs = entry_mod.queries()
            qs["a1_total_count"](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        # progress to STDERR (stdout stays one JSON line): a crashed or
        # killed run must name the query it died in — the r11 sf10 OOM
        # cost a rerun to even identify the row
        print(f"-- bench: {name}", file=sys.stderr, flush=True)
        # min of 2 full rebuilds, timed from DataFrame CONSTRUCTION
        # through noop-sink execution. Construction is inside the timer
        # because (a) driver-side plan building is real per-query
        # overhead no cluster amortizes (PLANS.md p04 finding), and
        # (b) eager operators (p13's connected-components loop runs its
        # label-propagation jobs during construction) would otherwise
        # report only their final cached write — milliseconds for
        # seconds of work. min-of-2 still drops JVM/codegen warmup.
        # Rounds 1-2 timed execution only; `plan_build_sec` preserves
        # comparability: old-style total ~= value - plan_build_sec
        # (+ p13's construction-run jobs).
        best = float("inf")
        best_build = float("inf")
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                if t2 - t0 < best:
                    best, best_build = t2 - t0, t1 - t0
        except Exception as exc:  # noqa: BLE001
            # one failing query must not void the other 60 rows of a
            # design-scale run (the r11 p04 OOM voided a 25-minute
            # suite): record the failure as data, keep measuring
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"-- bench: {name} FAILED: {errors[name]}",
                  file=sys.stderr, flush=True)
            # an executor OOM can take the whole local JVM down; every
            # later row would then fail with a dead-context error that
            # measures nothing.  Probe the session and rebuild it (plus
            # the bucketed-table registrations) so the suite survives.
            try:
                spark.sql("select 1").collect()
            except Exception:
                print("-- bench: SparkSession dead — rebuilding",
                      file=sys.stderr, flush=True)
                try:
                    spark.stop()
                except Exception:
                    pass
                spark = build_session(app_name="cfes-bench")
                ensure_bucketed_layout(spark, sf_dir)
                qs = entry_mod.queries()
            continue
        timings[name] = round(best, 4)
        build_costs[name] = round(best_build, 4)

    total = round(sum(timings.values()), 4)
    build_total = round(sum(build_costs.values()), 4)
    oracle_timings = _bench_oracles(sf_dir, names=headline)
    # comparable = oracle completed AND the Spark query completed: a
    # query that raised lands in `errors` with no `timings` entry, and
    # indexing timings[k] for it would crash payload construction —
    # re-voiding the suite the per-query try/except exists to survive
    # (r11 advice).  Planted-truth oracles (a constant SELECT certifying
    # a planted corpus, not an equivalent computation) are excluded from
    # every ratio aggregate: their spark/oracle ratio is meaningless by
    # construction (r11 verdict #3).
    planted = frozenset(getattr(entry_mod, "PLANTED_ORACLES", ()))
    comparable = {
        k: v
        for k, v in oracle_timings.items()
        if v is not None and k in timings and k not in planted
    }
    payload = (
            {
                "metric": "headline_suite_wall_sec",
                "value": total,
                "unit": "sec",
                "timing": "construction+execution (r1-r2 timed execution only)",
                "plan_build_sec": build_total,
                "queries": timings,
                # per-query driver-side construction cost; execution-only
                # wall = queries[k] - queries_build_sec[k]
                "queries_build_sec": build_costs,
                # queries that raised instead of completing (wall not
                # recorded; absent from every total)
                "query_errors": errors,
                # the T-query <=2x budget, machine-checkable: DuckDB wall
                # per headline query on the same parquet (single run, 30 s
                # watchdog; null = DNF, e.g. p04's exact O(N^2) jaccard
                # scan vs Spark's 5 s LSH)
                "oracle_sec": oracle_timings,
                # planted-truth oracle rows (excluded from comparable /
                # over_2x_oracle / both totals — see `comparable` above)
                "planted_oracles": sorted(planted & set(oracle_timings)),
                # rows benched in the fresh tail session (r12 verdict
                # #1 — in-suite bias on the >10 s rows)
                "heavy_rows_fresh_session": sorted(
                    HEAVY_ROWS & set(headline)
                ),
                # page-cache prewarm pass (r12 verdict stretch #10):
                # null = opted out via SPARK_GRAFT_PREWARM=0
                # host-contention markers (r13 verdict #3): fixed-work
                # CPU probe + loadavg at suite start / heavy tail
                "host_marker_start": marker_start,
                "host_marker_heavy_tail": marker_heavy,
                "prewarm_sec": prewarm_s,
                "prewarm_bytes": (
                    prewarm_bytes if prewarm_s is not None else None
                ),
                "oracle_timeout_sec": float(
                    os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT_SEC", "30")
                ),
                # bucketed fact layout: tables served bucketed this run,
                # and the one-time layout write cost when (re)built now
                # (0-table runs mean the layout was already fresh)
                "bucketed_tables": sorted(layout["manifest"]["tables"]),
                "bucketed_layout_write_s": layout_s,
                "bucketed_built_this_run": sorted(layout["built"]),
                "oracle_total_sec": round(sum(comparable.values()), 4),
                "spark_total_sec_on_oracle_comparable": round(
                    sum(timings[k] for k in comparable), 4
                ),
                "sf": sf,
                # BASELINE.md derived targets
                "append_scenarios_per_sec": append_rate,
                "append_scenarios_per_sec_2proc": append_rate_2proc,
                # S12 snapshots: point-load throughput on a 5k-event
                # aggregate, full refold vs snapshot + tail fold (the
                # 104-event T-append scenario is deliberately left
                # snapshot-free — at that length the snapshot write
                # costs more than the fold it saves)
                "reload_5k_per_sec": reload_plain,
                "reload_5k_snapshot_per_sec": reload_snap,
                **({} if skip_store else _bench_replay(spark, sf_dir)),
                # streaming-curation legs (r10 verdict #7): full
                # pipeline docs/sec, cold index, availableNow drain.
                # Measured in a FRESH session (r12): at suite-end the
                # legs inherit a GC/page-cache-degraded JVM and the
                # bias GROWS with suite length — the r12 in-suite text
                # leg read 33 docs/s vs 126 standalone the same hour.
                **({} if skip_store else _bench_curation(
                    _fresh_session(spark), sf_dir)),
            }
    )
    print(json.dumps(payload))
    # The driver keeps only a 2000-char TAIL of stdout in BENCH_r{N}.json,
    # which drops the per-query tables this suite exists to record (the
    # r07 verdict had to recover them from /tmp).  Persist the FULL
    # payload into the repo so every round's per-query spark/oracle wall
    # and the >2x list are auditable from git alone.  Round number =
    # max committed BENCH_r* + 1 (the driver writes BENCH_r{N} only
    # after the round ends); override the path for close-out runs at
    # other scales (e.g. BENCH_full_r08_sf10.json).
    out_path = os.environ.get("SPARK_GRAFT_BENCH_FULL_OUT")
    if out_path is None:
        import glob as _glob
        import re as _re

        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(m.group(1))
            for f in _glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := _re.search(r"BENCH_r(\d+)\.json$", f))
        ]
        out_path = os.path.join(
            here, f"BENCH_full_r{(max(rounds, default=0) + 1):02d}.json"
        )
    slow = sorted(
        (
            (k, round(timings[k] / v, 2))
            for k, v in comparable.items()
            if v > 0 and timings[k] / v > 2.0
        ),
        key=lambda kv: -kv[1],
    )
    payload["over_2x_oracle"] = dict(slow)
    # s06 attribution (r13 verdict #6): the row's wall is dominated by
    # the driver-side k-means fit, which runs at DataFrame CONSTRUCTION
    # (pq_train's sample collect + numpy Lloyd, plus the 1-row query
    # fetch) — the construction/execution split the timer already takes
    # IS the train/scan split, so name it.
    if "s06_pq_adc_topk" in timings:
        b = build_costs["s06_pq_adc_topk"]
        payload["s06_attribution"] = {
            "pq_train_plus_query_fetch_sec": b,
            "encode_adc_scan_sec": round(timings["s06_pq_adc_topk"] - b, 4),
        }
    # dual-base aggregate (r12 verdict #8): the same-session warm
    # interleave is the right per-run method, but page-cache/host
    # weather moves BOTH engines between rounds — report this run's
    # Spark total against the PRIOR round's committed oracle walls too,
    # so cross-round motion in either engine is visible from the JSON
    # alone without a judge recomputation.
    oc_total = sum(comparable.values())
    payload["aggregate_vs_oracle"] = (
        round(sum(timings[k] for k in comparable) / oc_total, 4)
        if oc_total > 0
        else None
    )
    payload["aggregate_vs_prev_oracle"] = _vs_prev_oracle(
        out_path, sf, timings, comparable
    )
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)


def _host_marker() -> dict:
    """Run-environment contention marker (r13 What's-wrong #1: a
    driver run read every leg 40-50% slow WITH the same-session DuckDB
    oracle equally slow — both engines moving together is host
    weather, but the artifact alone couldn't prove it).  Fixed-work
    CPU probe (~100 ms sha256 chain on an idle core) + 1/5/15-min
    loadavg, recorded at suite start and again before the heavy tail;
    a contended host reads the probe high, and the two samples bound
    WHEN the contention arrived.  Recorded, not enforced: refusing to
    bench on a busy host would deadlock the driver's own runs."""
    import hashlib

    t0 = time.perf_counter()
    h = b"x" * 4096
    for _ in range(20000):
        h = (hashlib.sha256(h).digest() * 128)[:4096]
    probe = round(time.perf_counter() - t0, 4)
    try:
        la = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        la = None
    return {"cpu_probe_sec": probe, "loadavg": la}


def _prewarm_dir(path: str) -> int:
    """Sequentially read every file under `path` into the page cache;
    returns bytes read.  The poor man's vmtouch — one pass at disk
    bandwidth makes 'warm' a precondition the bench enforces instead of
    inherits from whatever ran before."""
    total = 0
    if not path or not os.path.isdir(path):
        return 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            try:
                with open(fp, "rb") as fh:
                    while True:
                        chunk = fh.read(1 << 22)
                        if not chunk:
                            break
                        total += len(chunk)
            except OSError:
                continue
    return total


def _vs_prev_oracle(out_path: str, sf, timings: dict, comparable: dict):
    """This run's Spark walls over the most recent committed prior
    round's oracle walls at the SAME sf, on the rows comparable in
    both runs.  Returns null when no prior same-sf bench exists."""
    import glob as _glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    cands = []
    for f in _glob.glob(os.path.join(here, "BENCH_full_r*.json")):
        if os.path.abspath(f) == os.path.abspath(out_path):
            continue
        m = _re.search(r"BENCH_full_r(\d+)", os.path.basename(f))
        if m:
            cands.append((int(m.group(1)), f))
    for _, f in sorted(cands, reverse=True):
        try:
            with open(f) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if prev.get("sf") != sf:
            continue
        prev_oracle = prev.get("oracle_sec") or {}
        common = [
            k
            for k in comparable
            if isinstance(prev_oracle.get(k), (int, float))
        ]
        prev_total = sum(prev_oracle[k] for k in common)
        if not common or prev_total <= 0:
            continue
        return {
            "prev_file": os.path.basename(f),
            "common_rows": len(common),
            "spark_total_sec": round(sum(timings[k] for k in common), 4),
            "prev_oracle_total_sec": round(prev_total, 4),
            "ratio": round(
                sum(timings[k] for k in common) / prev_total, 4
            ),
        }
    return None


def _bench_oracles(
    sf_dir: str, timeout_s: float | None = None, names: list | None = None
) -> dict:
    """DuckDB wall per headline query's oracle SQL on the same parquet —
    emitted so the BASELINE.md "within 2x of the single-node engine"
    budget is a recorded field instead of a judgment call.  Single run
    per query (DuckDB has no codegen warmup to amortize); a watchdog
    interrupts anything past `timeout_s` and records null (DNF).
    Default 30 s; SPARK_GRAFT_ORACLE_TIMEOUT_SEC raises it for
    design-scale runs where heavyweight oracles legitimately need
    minutes (p16's md5 winnowing SQL walls ~29 s at sf10 — a 30 s
    watchdog would record a spurious DNF)."""
    if timeout_s is None:
        timeout_s = float(
            os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT_SEC", "30")
        )
    import threading

    import duckdb

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    con = duckdb.connect()
    # hard memory cap (r12): an oracle whose intermediate blows past RAM
    # inside the watchdog window OOM-kills the WHOLE bench process (the
    # s07 planted oracle at sf10 materializes ~3e9 distance rows and ate
    # 130 GB before the 60 s watchdog fired — the kernel killed pid-level,
    # not query-level).  With a limit DuckDB spills or errors that ONE
    # query; either way it records as DNF instead of voiding the suite.
    con.execute("SET memory_limit='24GB'")
    con.execute(f"SET temp_directory='{os.path.join(os.sep, 'tmp', 'duckdb_spill')}'")
    for t in tables:
        # /root/testdata tables are single files; scaled dirs from
        # tools/make_scaled_sf.py are directory datasets — glob those
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = entry_mod.oracle_sql()
    out: dict = {}
    for name in names if names is not None else HEADLINE:
        sql = oracles.get(name)
        if sql is None:
            continue
        done = threading.Event()

        def _watchdog() -> None:
            if not done.wait(timeout_s):
                con.interrupt()

        w = threading.Thread(target=_watchdog, daemon=True)
        w.start()
        t0 = time.perf_counter()
        try:
            con.execute(sql).fetchall()
            out[name] = round(time.perf_counter() - t0, 4)
        except duckdb.Error:
            out[name] = None  # interrupted (DNF) or oracle-side error
        finally:
            done.set()
            w.join()
    return out


def _bench_long_stream_reload(
    stream_len: int = 5000, reloads: int = 30
) -> tuple[float, float]:
    """S12 snapshots where they matter: reloads/s of ONE long-lived
    aggregate (5k events — a year-old cart, not the 104-event benchmark
    scenario), full refold vs snapshot + tail fold."""
    import decimal
    import shutil
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
    from cloudfabric_eventsourcing_spark.domain import AggregateRepository
    from cloudfabric_eventsourcing_spark.eventstore import (
        JsonFileSnapshotStore,
        ParquetEventStore,
    )
    from tests.domain_fixtures import ORDERS_PARTITION_KEY, Order, OrderItem, utcnow

    d = tempfile.mkdtemp(prefix="cfes-bench-")
    try:
        store = ParquetEventStore(os.path.join(d, "events"))
        store.initialize()
        snap_repo = AggregateRepository(
            store, Order,
            snapshot_store=JsonFileSnapshotStore(os.path.join(d, "snaps")),
            snapshot_every=500,
        )
        plain_repo = AggregateRepository(store, Order)
        o = Order(
            "00000000-0000-0000-0000-00000000bee5", "Long",
            [OrderItem(utcnow(), "seed", decimal.Decimal("1.00"))],
        )
        snap_repo.save({"userId": "bench"}, o)
        loaded = snap_repo.load(o.id, ORDERS_PARTITION_KEY)
        chunk = 500
        for start in range(0, stream_len, chunk):
            for j in range(chunk):
                loaded.add_item(
                    OrderItem(utcnow(), f"i{start + j}", decimal.Decimal("2.00"))
                )
            snap_repo.save({"userId": "bench"}, loaded)
        store.compact()

        def rate(repo) -> float:
            t0 = time.perf_counter()
            for _ in range(reloads):
                repo.load(o.id, ORDERS_PARTITION_KEY)
            return round(reloads / (time.perf_counter() - t0), 2)

        return rate(plain_repo), rate(snap_repo)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _bench_append_scenarios(n: int = 150) -> float:
    """T-append: the reference's TestPlaceOrderAndAddItem scenario (place
    order + reload + add 100 items + save + reload a 104-event-shape
    stream) against the parquet event store. Baseline: Postgres ~78/s
    single-threaded; target >= 39/s (BASELINE.md).

    Deliberately snapshot-free: at 104 events the snapshot write costs
    more than the fold it saves (measured), and the baseline comparison
    mirrors the reference's own no-snapshot benchmark.  The snapshot
    win is measured where it exists — _bench_long_stream_reload."""
    import decimal
    import shutil
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
    from cloudfabric_eventsourcing_spark.domain import AggregateRepository
    from cloudfabric_eventsourcing_spark.eventstore import ParquetEventStore
    from tests.domain_fixtures import ORDERS_PARTITION_KEY, Order, OrderItem, utcnow

    d = tempfile.mkdtemp(prefix="cfes-bench-")
    try:
        store = ParquetEventStore(os.path.join(d, "events"))
        store.initialize()
        repo = AggregateRepository(store, Order)
        t0 = time.perf_counter()
        for i in range(n):
            o = Order(
                f"{i:08d}-0000-0000-0000-000000000000",
                f"Bench {i}",
                [OrderItem(utcnow(), "Caverna", decimal.Decimal("12.00"))],
            )
            repo.save({"userId": "bench"}, o)
            loaded = repo.load(o.id, ORDERS_PARTITION_KEY)
            for j in range(100):
                loaded.add_item(OrderItem(utcnow(), f"i{j}", decimal.Decimal("6.95")))
            repo.save({"userId": "bench"}, loaded)
            repo.load(o.id, ORDERS_PARTITION_KEY)
            if (i + 1) % 64 == 0:
                store.compact()
        return round(n / (time.perf_counter() - t0), 2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _bench_append_scenarios_parallel(n: int = 160, threads: int = 8) -> float:
    """T-append with concurrent writer threads on disjoint streams
    (per-stream commit locks). NOT in the headline JSON: the scenario is
    GIL-bound Python (event serialization), so in-process threads measure
    contention, not the store — multi-PROCESS writers are the shape that
    scales, which the cross-process coherence tests cover."""
    import decimal
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
    from cloudfabric_eventsourcing_spark.domain import AggregateRepository
    from cloudfabric_eventsourcing_spark.eventstore import ParquetEventStore
    from tests.domain_fixtures import ORDERS_PARTITION_KEY, Order, OrderItem, utcnow

    d = tempfile.mkdtemp(prefix="cfes-benchp-")
    try:
        store = ParquetEventStore(os.path.join(d, "events"))
        store.initialize()
        repo = AggregateRepository(store, Order)

        def scenario(i: int) -> None:
            o = Order(
                f"{i:08d}-0000-0000-0000-000000000000",
                f"Bench {i}",
                [OrderItem(utcnow(), "Caverna", decimal.Decimal("12.00"))],
            )
            repo.save({"userId": "bench"}, o)
            loaded = repo.load(o.id, ORDERS_PARTITION_KEY)
            for j in range(100):
                loaded.add_item(OrderItem(utcnow(), f"i{j}", decimal.Decimal("6.95")))
            repo.save({"userId": "bench"}, loaded)
            repo.load(o.id, ORDERS_PARTITION_KEY)

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=threads) as pool:
            list(pool.map(scenario, range(n)))
        return round(n / (time.perf_counter() - t0), 2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _bench_append_scenarios_2proc(n: int = 150, procs: int = 2) -> float:
    """T-append across PROCESSES on disjoint streams sharing ONE store
    directory. The scenario is GIL-bound Python (event serialization), so
    in-process threads only measure contention (see the thread variant) —
    separate interpreters are the scaling shape, coordinated purely by the
    store's per-stream O_EXCL commit locks. Expectation: >= 1.5x the
    single-process rate; the wall includes interpreter startup."""
    import shutil
    import subprocess
    import tempfile

    root = os.path.dirname(os.path.abspath(__file__))
    # workers report their own append window (post-import wall-clock
    # epoch); the parent rates n over max(t1)-min(t0), so interpreter +
    # pyspark-import startup (~1.5 s, a fixed cost any long-lived writer
    # amortizes) stays out of the measurement while every cross-process
    # coordination cost stays in
    worker = r"""
import decimal, json, os, sys, time
root, store_path, base, cnt = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
sys.path.insert(0, root)
from cloudfabric_eventsourcing_spark.domain import AggregateRepository
from cloudfabric_eventsourcing_spark.eventstore import ParquetEventStore
from tests.domain_fixtures import ORDERS_PARTITION_KEY, Order, OrderItem, utcnow
store = ParquetEventStore(store_path)
store.initialize()
repo = AggregateRepository(store, Order)
t0 = time.time()
for i in range(base, base + cnt):
    o = Order(f"{i:08d}-0000-0000-0000-000000000000", f"Bench {i}",
              [OrderItem(utcnow(), "Caverna", decimal.Decimal("12.00"))])
    repo.save({"userId": "bench"}, o)
    loaded = repo.load(o.id, ORDERS_PARTITION_KEY)
    for j in range(100):
        loaded.add_item(OrderItem(utcnow(), f"i{j}", decimal.Decimal("6.95")))
    repo.save({"userId": "bench"}, loaded)
    repo.load(o.id, ORDERS_PARTITION_KEY)
print(json.dumps({"t0": t0, "t1": time.time()}))
"""
    d = tempfile.mkdtemp(prefix="cfes-bench2p-")
    try:
        store_path = os.path.join(d, "events")
        per = n // procs
        ps = [
            subprocess.Popen(
                [sys.executable, "-c", worker, root, store_path,
                 str(k * per), str(per)],
                cwd=root,
                stdout=subprocess.PIPE,
            )
            for k in range(procs)
        ]
        spans = []
        for p in ps:
            out, _ = p.communicate()
            if p.returncode != 0:
                raise RuntimeError("2proc append worker failed")
            spans.append(json.loads(out.decode().strip().splitlines()[-1]))
        wall = max(s["t1"] for s in spans) - min(s["t0"] for s in spans)
        return round((per * procs) / wall, 2)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _bench_replay(spark, sf_dir: str) -> dict:
    """T-replay THROUGH the T8 rebuild processor (distributed mode): lease
    -> per-stream applyInArrow fold through a real ProjectionBuilder ->
    snapshot write, with the progress heartbeat running. Also measures the reference's
    serial 250-chunk cursor loop (no SparkSession) on a 10k-event sample of
    the same store for the BASELINE.md >=2x comparison. Store
    materialization is excluded from both timings."""
    import shutil
    import tempfile

    from cloudfabric_eventsourcing_spark.benchmarks import (
        BenchUserStatsBuilder,
        bench_schema,
        make_bench_event_store,
    )
    from cloudfabric_eventsourcing_spark.eventstore import (
        InMemoryMetadataRepository,
    )
    from cloudfabric_eventsourcing_spark.projections import (
        IndexSelector,
        InMemoryProjectionRepository,
        ParquetProjectionRepository,
        ProjectionsEngine,
        ProjectionsRebuildProcessor,
        ProjectionIndexStateStore,
    )

    d = tempfile.mkdtemp(prefix="cfes-replay-")
    try:
        def run(limit, mode, tag=""):
            store = make_bench_event_store(
                spark, sf_dir, os.path.join(d, f"events-{mode}{tag}"), limit=limit
            )
            n = store.get_statistics().total_events_count
            state = ProjectionIndexStateStore(InMemoryMetadataRepository())
            if mode == "distributed":
                repo = ParquetProjectionRepository(
                    bench_schema(), state, os.path.join(d, f"proj-{mode}{tag}"),
                    spark=spark,
                )
            else:
                # driver-memory sink for the serial loop: measures the
                # cursor+fold cost itself (generous to serial — the
                # distributed timing INCLUDES its parquet snapshot write)
                repo = InMemoryProjectionRepository(bench_schema(), state)
            repo.ensure_index()

            def factory(index_name):
                e = ProjectionsEngine(store)
                e.add_projection_builder(
                    BenchUserStatsBuilder(repo, IndexSelector.ProjectionRebuild)
                )
                return e

            proc = ProjectionsRebuildProcessor(
                state, factory, store,
                spark=spark if mode == "distributed" else None,
            )
            t0 = time.perf_counter()
            done = proc.rebuild_projections_that_require_rebuild()
            dt = time.perf_counter() - t0
            assert done, "rebuild processor found nothing to rebuild"
            return round(n / dt, 1)

        # best-of-3: the replay section runs last, when the suite has left
        # the machine hot — the better run measures the engine.  r04's
        # driver row recorded sql-fold at 545.9k ev/s where two local
        # runs of the same code measured 696.6k and 849.5k (a 1.6x
        # spread); one extra attempt per metric costs ~20 s and pins the
        # round-over-round comparison to the engine, not the neighbor.
        serial = max(
            run(limit=10_000, mode="serial", tag=f"-{i}")
            for i in range(3)
        )
        distributed = max(
            run(limit=None, mode="distributed", tag=f"-{i}")
            for i in range(3)
        )
        return {
            "replay_events_per_sec": distributed,
            "replay_serial_events_per_sec": serial,
            "replay_sql_fold_events_per_sec": _bench_sql_fold(spark, sf_dir),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _fresh_session(old):
    """Tear down the suite's JVM and hand back a clean one — streaming
    throughput keys must not depend on how long the preceding query
    suite happened to be."""
    try:
        old.stop()
    except Exception:  # noqa: BLE001
        pass
    from cloudfabric_eventsourcing_spark.session import build_session

    return build_session(app_name="cfes-bench-curation")


def _bench_curation(spark, sf_dir: str) -> dict:
    """Streaming-curation throughput (r10 verdict #7): drain the sf
    documents table through two curate_*_stream legs with availableNow
    — the text (MinHash) loop and the fingerprint (SimHash+Hamming)
    loop — from a cold empty index, 4 micro-batches each, and report
    end-to-end docs/sec.  This is the full per-batch pipeline the
    loops run in production (gate → intra-batch dedup → index probe →
    run/epoch corpus write → index append), so a regression in ANY
    stage of either loop moves a driver-tracked number."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.sources import load_table
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_hamming_stream,
        curate_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    d = tempfile.mkdtemp(prefix="cfes-curation-")
    out = {}
    try:
        # 4 source files -> 4 micro-batches (maxFilesPerTrigger=1)
        src = os.path.join(d, "incoming")
        docs.withColumn(
            "b", F.pmod(F.xxhash64("doc_id"), F.lit(4))
        ).repartition(4, "b").drop("b").write.parquet(src)

        def finish(q, n_rows: int, t0: float):
            # awaitTermination returns False on timeout: the stream has
            # NOT drained, so docs/sec would be inflated nonsense —
            # record the leg as DNF (null, the oracle-watchdog
            # convention) instead (ADVICE r12)
            if not q.awaitTermination(600):
                q.stop()
                return None
            return round(n_rows / (time.perf_counter() - t0), 1)

        def drain(leg: str, start):
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            t0 = time.perf_counter()
            q = start(stream)
            return finish(q, n_docs, t0)

        text_idx = os.path.join(d, "tidx")
        dedup.save_minhash_index(
            spark.createDataFrame([], "doc_id long, text string"), text_idx
        )
        out["curation_text_docs_per_sec"] = drain(
            "text",
            lambda s: curate_stream(
                s, text_idx, os.path.join(d, "tcorpus"),
                os.path.join(d, "tckpt"), threshold=0.9,
            ),
        )

        ham_idx = os.path.join(d, "hidx")
        dedup.save_hamming_index(
            spark.createDataFrame([], "doc_id long, simhash long"),
            ham_idx, hash_col="simhash", id_col="doc_id",
        )

        def sigs(batch):
            return dedup.simhash_signatures(batch).select(
                F.col("id").alias("doc_id"), "simhash"
            )

        out["curation_hamming_docs_per_sec"] = drain(
            "hamming",
            lambda s: curate_hamming_stream(
                s, ham_idx, os.path.join(d, "hcorpus"),
                os.path.join(d, "hckpt"), max_hamming=3,
                hash_col="simhash", id_col="doc_id",
                batch_transform=sigs,
            ),
        )

        # vector leg (r11 verdict #9): drain the embeddings table
        # through the cosine-LSH curation loop from a cold index
        from cloudfabric_eventsourcing_spark.streaming.curation import (
            curate_vector_stream,
        )

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        n_vecs = emb.count()
        dims = len(emb.select("embedding").first()[0])
        vsrc = os.path.join(d, "vincoming")
        emb.withColumn(
            "b", F.pmod(F.xxhash64("vec_id"), F.lit(4))
        ).repartition(4, "b").drop("b").write.parquet(vsrc)
        vec_idx = os.path.join(d, "vidx")
        dedup.save_cosine_index(
            spark.createDataFrame([], "vec_id long, embedding array<float>"),
            vec_idx, dims=dims, bits=10,
        )
        vstream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(vsrc)
        )
        t0 = time.perf_counter()
        q = curate_vector_stream(
            vstream, vec_idx, os.path.join(d, "vcorpus"),
            os.path.join(d, "vckpt"), threshold=0.99,
        )
        out["curation_vector_docs_per_sec"] = finish(q, n_vecs, t0)

        # image leg (r11 verdict #9): synthetic 9x8 PNGs rendered
        # DISTRIBUTEDLY from id arithmetic (the m05 planted method),
        # drained through the perceptual-hash loop; capped — the point
        # is decode->dHash->index throughput per doc, not corpus size
        from cloudfabric_eventsourcing_spark.operators import (
            multimodal as _mm,
        )
        from cloudfabric_eventsourcing_spark.streaming.curation import (
            curate_image_dhash_stream,
        )

        n_imgs = min(n_docs, 2000)

        def _render_batches(batches):
            import numpy as np
            import pandas as pd

            from cloudfabric_eventsourcing_spark.operators import codecs

            for pdf in batches:
                blobs = []
                for mid in pdf["media_id"]:
                    pat = (int(mid) * 0x9E3779B97F4A7C15) & ((1 << 64) - 1)
                    px = np.zeros((8, 9), np.uint8)
                    for r in range(8):
                        v = 128
                        px[r, 0] = v
                        for c in range(8):
                            v += 8 if (pat >> (r * 8 + c)) & 1 else -8
                            px[r, c + 1] = v
                    rgb = np.repeat(px[..., None], 3, axis=2)
                    blobs.append(
                        codecs.encode_png(9, 8, 3, rgb.tobytes())
                    )
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "kind": "image",
                        "content": blobs,
                        "meta": [None] * len(pdf),
                    }
                )

        isrc = os.path.join(d, "iincoming")
        spark.range(n_imgs).select(
            F.col("id").alias("media_id")
        ).repartition(4).mapInPandas(
            _render_batches, _mm.MEDIA_SCHEMA
        ).write.parquet(isrc)
        img_idx = os.path.join(d, "iidx")
        dedup.save_hamming_index(
            spark.createDataFrame([], "media_id long, dhash long"), img_idx
        )
        istream = (
            spark.readStream.schema(_mm.MEDIA_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(isrc)
        )
        t0 = time.perf_counter()
        q = curate_image_dhash_stream(
            istream, img_idx, os.path.join(d, "icorpus"),
            os.path.join(d, "ickpt"),
        )
        out["curation_image_dhash_docs_per_sec"] = finish(q, n_imgs, t0)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _bench_sql_fold(spark, sf_dir: str) -> float:
    """The vectorized ceiling (r01's replay metric, kept for continuity):
    the same per-user counters as pure JVM aggregation — what the rebuild
    becomes when a builder's fold is expressible in SQL (A4/A5 shape).

    Best-of-3 (was 2): this section runs LAST, after the heavy replay
    benches have left the JVM with dirty heaps and cold scheduler pools —
    r02 measured it single-shot and logged a spurious −22% vs r01
    (272.9k vs 350.8k ev/s), and r04's best-of-2 driver row still sat
    1.6x under two local re-runs of the same code."""
    from pyspark.sql import functions as F

    from cloudfabric_eventsourcing_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    n = events.count()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (
            events.groupBy("user_id")
            .agg(
                F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
                F.count(F.lit(1)).alias("n_events"),
                F.max("ts").alias("last_ts"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        best = min(best, time.perf_counter() - t0)
    return round(n / best, 1)


if __name__ == "__main__":
    main()
