"""Materialize a scaled-up copy of the sf0.1 star schema for the
T-query crossover study (PLANS.md "sf1 crossover").

At sf0.1 every DuckDB oracle wall is < 0.25 s — below Spark's measured
~0.05-0.9 s fixed local floor (scheduler + shuffle constants), so the
BASELINE.md "within 2x of the single-node engine" budget can't be
measured there, only argued.  This tool replicates /root/testdata/sf0.1
(read-only, never modified) FACTOR times into a scratch dir so the same
`bench.py` + `oracle_sec` machinery can record the comparison at a scale
where both engines do real work.

Scaling model (mirrors TPC-H's own sf semantics — more entities, not
longer histories): every BIGINT entity key is offset by replica *
ID_STRIDE in its home table and in every table that references it, so
referential integrity and per-entity cardinalities (lines per order,
orders per customer, events per user) are preserved while customer /
order / document counts grow linearly.  region / nation stay fixed (25
nations at every sf, as in TPC-H).  Replica documents get ~2/3 of
their tokens rewritten per replica (see `_replica`) so LSH near-dup
cluster sizes stay constant instead of growing k-fold; replica
embeddings get a tiny deterministic first-component nudge so vectors
are distinct.

Usage:  python tools/make_scaled_sf.py [factor] [out_dir]
        (defaults: factor=10 -> /tmp/spark_graft_sf1)
Then:   SPARK_GRAFT_SF_DIR=/tmp/spark_graft_sf1 python bench.py
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloudfabric_eventsourcing_spark.session import build_session  # noqa: E402
from cloudfabric_eventsourcing_spark.sources import load_table  # noqa: E402

BASE = "/root/testdata/sf0.1"
ID_STRIDE = 50_000_000  # clear of the +10^7 planted-truth id offsets (p06/p07 oracles)

# table -> BIGINT key columns to offset per replica (home keys and
# foreign keys alike — same stride keeps every join edge intact)
OFFSET_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ["region", "nation"]
# output fan-out: big facts get parallel files, dims stay single-file
N_FILES = {"lineitem": 32, "orders": 16, "events": 16, "customer": 8,
           "documents": 8, "embeddings": 8}


def _replica(df, table: str, i: int):
    cols = []
    for c in df.columns:
        if c in OFFSET_COLS.get(table, ()):
            cols.append((F.col(c) + F.lit(i * ID_STRIDE)).alias(c))
        elif table == "documents" and c == "text" and i > 0:
            # De-correlate replicas by deterministically rewriting ~2/3 of
            # each document's tokens (suffix keyed by token+replica).
            # Cross-replica jaccard of a copied doc drops to ~(1/3)^2 /
            # (2-(1/3)^2) ~= 0.06 — below the banding-collision range —
            # while WITHIN a replica two near-dups rewrite the same tokens
            # the same way, preserving cluster structure and doc length.
            # (The earlier prefix-token trick left long docs at jaccard
            # ~0.8 across replicas: under the 0.9 verify threshold but
            # with ~100% band-collision probability, which merged sf0.1's
            # known 2.6k-doc near-dup cluster into one 26k-member LSH
            # family at factor 10 — measured: 197M candidate pairs, 62x
            # p04 wall.)
            toks = F.split(F.col(c), r"\s+")
            rewritten = F.transform(
                toks,
                lambda x: F.when(
                    F.pmod(F.xxhash64(x, F.lit(i)), F.lit(3)) < F.lit(2),
                    F.concat(x, F.lit(f"r{i}")),
                ).otherwise(x),
            )
            cols.append(F.concat_ws(" ", rewritten).alias(c))
        elif table == "embeddings" and c == "embedding" and i > 0:
            # distinct vectors per replica without changing the geometry
            # (nudge ~1e-4 on one component; embeddings are unit-ish)
            nudge = F.lit(float(i) * 1e-4)
            cols.append(
                F.concat(
                    F.array((F.col(c)[0] + nudge).cast("float")),
                    F.slice(F.col(c), 2, 10_000),
                ).alias(c)
            )
        else:
            cols.append(F.col(c))
    return df.select(*cols)


#: replicas unioned per write job: a factor-1000 single plan would be a
#: 1000-way union (analyzer cost grows superlinearly in plan width);
#: chunked appends keep every job a bounded-width union
CHUNK = 50


def materialize(
    factor: int, out_dir: str, tables: list[str] | None = None
) -> None:
    """`tables=None` materializes everything; a subset (e.g. the star
    tables for the sf100 eager-agg probe) skips the rest — the _OK
    marker records WHICH tables exist so a subset dir is never mistaken
    for a full one."""
    ok_path = os.path.join(out_dir, "_OK")
    wanted = list(OFFSET_COLS) if tables is None else [
        t for t in OFFSET_COLS if t in tables
    ]
    have: set[str] = set()
    if os.path.exists(ok_path):
        have = set(open(ok_path).read().split())
        if have >= set(wanted) or have == {"ok"}:
            print(f"{out_dir} already materialized", file=sys.stderr)
            return
        # additive top-up: tables are independent replicas of the same
        # base, so a dir holding a subset extends in place — rebuilding
        # 14 GB to add one table evicts the page cache for nothing
        # (the r12 bench-hygiene lesson) and costs a 20-minute write
        wanted = [t for t in wanted if t not in have]
        print(
            f"{out_dir}: topping up {wanted} (have {sorted(have)})",
            file=sys.stderr,
        )
    else:
        shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name=f"make-sf-x{factor}")
    for t in COPY_AS_IS:
        load_table(spark, BASE, t).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
        print(f"-- {t}: copied", file=sys.stderr)
    for t in wanted:
        base = load_table(spark, BASE, t)
        n_files = N_FILES.get(t, 4)
        for lo in range(0, factor, CHUNK):
            hi = min(lo + CHUNK, factor)
            out = _replica(base, t, lo)
            for i in range(lo + 1, hi):
                out = out.unionByName(_replica(base, t, i))
            out.repartition(max(1, n_files * (hi - lo) // factor)).write.mode(
                "overwrite" if lo == 0 else "append"
            ).parquet(f"{out_dir}/{t}.parquet")
        print(f"-- {t}: x{factor}", file=sys.stderr)
    open(ok_path, "w").write(" ".join(sorted(have | set(wanted))))
    print(f"materialized {out_dir} at factor {factor}", file=sys.stderr)


if __name__ == "__main__":
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    default = f"/tmp/spark_graft_sf{factor / 10:g}"
    out = sys.argv[2] if len(sys.argv) > 2 else default
    tables = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    materialize(factor, out, tables)
