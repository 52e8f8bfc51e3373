"""Similarity search over embedding columns (array<float>).

  - brute_force_topk: exact cosine top-k — one scan, JVM-side
    zip_with/aggregate dot product, TakeOrderedAndProject for the limit.
    The baseline and the verifier.
  - lsh_bucket / lsh_topk: random-hyperplane LSH — signature via one
    Arrow-batched Pandas UDF (numpy matmul against a broadcast projection
    matrix; Spark has no vector-matrix primitive), then candidate search
    only within the query's bucket (+ multiprobe neighbors). The scale
    path: at 100 TB the bucket join replaces the full scan, and the
    projection matrix (dims x bits floats) broadcasts to executors.
  - ivf_topk: k-means-free IVF variant — coarse cells from seed vectors
    (deterministic sample), assign by best dot product, probe the nearest
    `nprobe` cells.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloudfabric_eventsourcing_spark import commit


def _id_asc_key(v):
    """Ordering key reproducing Spark's ``asc(id)`` tiebreak (nulls
    FIRST) inside the Arrow/pandas kernels: a None/NaN id sorts ahead
    of every concrete id instead of raising TypeError mid-sort, so a
    single dirty-id row degrades exactly like the Column form (r13
    advice: per-batch pruning must respect the final total order even
    on degenerate corpora)."""
    if v is None or (isinstance(v, float) and v != v):
        return (0, "")
    return (1, v)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_to_query(vec_col: Column, query: Sequence[float]) -> Column:
    """Cosine against a broadcast query literal.  A zero-norm vector
    (or zero-norm query) has no defined cosine: NULL, which desc
    ordering places last — instead of an ANSI divide-by-zero killing
    the whole scan for one degenerate row."""
    q = [float(x) for x in query]
    qn = float(np.sqrt(np.dot(q, q)))
    qlit = F.array(*[F.lit(x) for x in q])
    denom = _norm(vec_col) * F.lit(qn)
    return F.when(denom != 0.0, _dot(vec_col, qlit) / denom)


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 4,
    use_arrow: bool = True,
) -> DataFrame:
    """Exact top-k by cosine; deterministic ordering (cosine desc, id asc).

    Two evaluation paths, pytest-pinned equal on clean AND dirty
    corpora (the r12 verdict's s01 ask — the same lesson as s04/s05:
    the map-only plan was always right, the per-element Column-HOF
    constant was not):

    - `use_arrow=True` (default): mapInArrow kernel — zero-copy child-
      buffer reshape for uniform non-null batches, then the dot/norm
      computed as a SEQUENTIAL fold over the dim axis (64 vectorized
      adds across the batch), i.e. the exact IEEE op order of the
      Column form's F.aggregate left-fold, so the raw cosines are
      bit-identical, not merely close.  Rounding matches Spark's
      ROUND(double, s) = BigDecimal(Double.toString(x)).setScale(s,
      HALF_UP) via decimal.Decimal(repr(x)) — applied only to the
      per-batch margin-pruned candidates, never the whole batch.
      Per-batch prune is lossless for the ROUNDED ordering: any row
      with raw < kth_raw - 10^-round_to rounds strictly below the
      kth candidate (rounding moves a value by at most half a unit),
      so keeping raw >= kth_raw - unit keeps every possible global
      top-k member.
    - `use_arrow=False`: the JVM Column fold, kept as the oracle-exact
      reference.

    Either way Catalyst's final orderBy+limit is
    TakeOrderedAndProject over <= k rows per Arrow batch (or the
    corpus scan in Column form) — no full sort, no shuffle.

    Null/empty/dim-mismatched vectors carry a NULL cosine (the Column
    form's zip_with-pad + zero-denominator semantics) and rank last."""
    if use_arrow:
        return _brute_force_topk_arrow(
            df, query, k, vec_col, id_col, round_to
        )
    cos = F.round(cosine_to_query(F.col(vec_col), query), round_to)
    return (
        df.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _brute_force_topk_arrow(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    vec_col: str,
    id_col: str,
    round_to: int,
) -> DataFrame:
    from decimal import ROUND_HALF_UP, Decimal

    q = np.asarray([float(x) for x in query], dtype=np.float64)
    qn = float(np.sqrt(np.dot(q, q)))
    dim = len(q)
    unit = 10.0 ** (-round_to)
    unit_d = Decimal(1).scaleb(-round_to)
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def _jround(x: float) -> float:
        # Spark ROUND(double) goes through Double.toString -> HALF_UP;
        # repr() is the same shortest-round-trip decimal
        if np.isnan(x) or np.isinf(x):
            return float(x)
        return float(Decimal(repr(float(x))).quantize(unit_d, ROUND_HALF_UP))

    def _batches(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec = batch.column(batch.schema.get_field_index(vec_col))
            idc = batch.column(batch.schema.get_field_index(id_col))
            mat = None
            if (
                isinstance(vec, (pa.ListArray, pa.LargeListArray))
                and vec.null_count == 0
            ):
                offs = vec.offsets.to_numpy(zero_copy_only=False)
                widths = np.diff(offs)
                if len(widths) and widths[0] == dim and (widths == widths[0]).all():
                    vals = vec.values.to_numpy(
                        zero_copy_only=False
                    ).astype(np.float64)
                    mat = vals[offs[0]: offs[-1]].reshape(n, dim)
            if mat is None:  # dirty batch: null / empty / ragged rows
                rows = vec.to_pylist()
                live_i = [
                    i for i, v in enumerate(rows)
                    if v is not None and len(v) == dim
                ]
                dead_i = [
                    i for i, v in enumerate(rows)
                    if v is None or len(v) != dim
                ]
                if dead_i:
                    # keep the k dead rows that sort FIRST under the
                    # final (cosine desc NULLS LAST, id asc NULLS
                    # FIRST) order — not the first k by batch position
                    dead_i = sorted(
                        dead_i, key=lambda i: _id_asc_key(idc[i].as_py())
                    )[:k]
                    dead_sel = pa.array(dead_i)
                    yield pa.RecordBatch.from_arrays(
                        [
                            idc.take(dead_sel),
                            pa.nulls(len(dead_i), type=pa.float64()),
                        ],
                        names=[id_col, "cosine"],
                    )
                if not live_i:
                    continue
                live_sel = pa.array(live_i)
                idc = idc.take(live_sel)
                n = len(live_i)
                mat = np.array(
                    [rows[i] for i in live_i], dtype=np.float64
                )
            # sequential fold over dim — the Column aggregate's exact
            # IEEE op order, vectorized across the batch axis
            dot = np.zeros(n, dtype=np.float64)
            nrm2 = np.zeros(n, dtype=np.float64)
            for t in range(dim):
                col = mat[:, t]
                dot = dot + col * q[t]
                nrm2 = nrm2 + col * col
            denom = np.sqrt(nrm2) * qn
            live = denom != 0.0  # zero-norm vectors: NULL cosine
            raw = np.where(live, dot / np.where(live, denom, 1.0), np.nan)
            # margin prune on the raw values (NaN cosine sorts FIRST
            # under Spark desc — key it as +inf)
            key = np.where(np.isnan(raw) & live, np.inf, raw)
            key = np.where(live, key, -np.inf)
            n_live = int(live.sum())
            if n_live:
                m = min(k, n_live)
                kth = np.partition(key, n - m)[n - m]
                sel = np.flatnonzero(live & (key >= kth - unit))
                rounded = [_jround(raw[i]) for i in sel]
                sub = sorted(
                    zip(sel.tolist(), rounded),
                    key=lambda t_: (
                        -np.inf
                        if np.isnan(t_[1])
                        else -t_[1],
                        _id_asc_key(idc[t_[0]].as_py()),
                    ),
                )[:k]
                sel_idx = pa.array([i for i, _ in sub])
                yield pa.RecordBatch.from_arrays(
                    [
                        idc.take(sel_idx),
                        pa.array(
                            [c for _, c in sub], type=pa.float64()
                        ),
                    ],
                    names=[id_col, "cosine"],
                )
            n_dead = n - n_live
            if n_dead:
                dead = np.flatnonzero(~live).tolist()
                if len(dead) > k:  # prune in final-order, not position
                    dead = sorted(
                        dead, key=lambda i: _id_asc_key(idc[i].as_py())
                    )[:k]
                yield pa.RecordBatch.from_arrays(
                    [
                        idc.take(pa.array(dead)),
                        pa.nulls(len(dead), type=pa.float64()),
                    ],
                    names=[id_col, "cosine"],
                )

    pruned = df.select(id_col, vec_col).mapInArrow(_batches, out_schema)
    return pruned.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

def _projection_matrix(dims: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dims, bits)).astype(np.float64)


def lsh_bucket(
    df: DataFrame,
    dims: int,
    bits: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds a `bucket` column: sign-bit signature of the vector under
    `bits` random hyperplanes."""
    proj = _projection_matrix(dims, bits, seed)

    @F.pandas_udf("long")
    def signature(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy())  # (batch, dims), Arrow zero-copy-ish
        signs = (mat.astype(np.float64) @ proj) > 0  # (batch, bits)
        weights = (1 << np.arange(bits)).astype(np.int64)
        return pd.Series(signs @ weights)

    return df.withColumn("bucket", signature(F.col(vec_col)))


def _neighbor_buckets(bucket: int, bits: int, nprobe_flips: int) -> list[int]:
    out = [bucket]
    if nprobe_flips >= 1:
        out += [bucket ^ (1 << i) for i in range(bits)]
    return out


def lsh_topk(
    df_bucketed: DataFrame,
    query: Sequence[float],
    dims: int,
    k: int = 10,
    bits: int = 16,
    seed: int = 42,
    nprobe_flips: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket and its 1-bit
    neighbors (multiprobe). Input must come from lsh_bucket(same seed)."""
    q = np.asarray(list(query), dtype=np.float64)
    proj = _projection_matrix(dims, bits, seed)
    signs = (q @ proj) > 0
    qbucket = int((signs * (1 << np.arange(bits))).sum())
    probes = _neighbor_buckets(qbucket, bits, nprobe_flips)
    cos = F.round(cosine_to_query(F.col(vec_col), query), round_to)
    return (
        df_bucketed.where(F.col("bucket").isin(probes))
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (coarse-cell) variant
# ---------------------------------------------------------------------------

def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its best (max dot product) coarse cell.
    Centroid matrix broadcasts inside the Arrow UDF closure."""
    cents = centroids.astype(np.float64)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(mat @ cents.T, axis=1).astype(np.int32))

    return df.withColumn("cell", assign(F.col(vec_col)))


def ivf_centroids_from_sample(
    df: DataFrame,
    n_cells: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: Optional[int] = None,
    seed: int = 42,
    lloyd_iters: int = 5,
) -> np.ndarray:
    """Deterministic k-means++ centroids from a hash-ordered sample.

    Scale shape: only the SAMPLE (default 64 vectors/cell, ~thousands of
    rows) is collected to the driver; the k-means++ seeding and a few
    Lloyd refinement iterations run in numpy on that sample. Cluster
    ASSIGNMENT of the full table stays distributed (ivf_assign). The
    hash-order sample (xxhash64 of the id) is deterministic and unbiased
    by id locality, unlike the first-N-by-id seeding this replaces."""
    if sample_size is None:
        sample_size = max(1024, n_cells * 64)
    rows = (
        df.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(sample_size)
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    n = len(x)
    if n == 0:
        raise ValueError("cannot seed centroids from an empty table")
    n_cells = min(n_cells, n)
    rng = np.random.default_rng(seed)
    # k-means++ seeding: each next centroid drawn ∝ squared distance to
    # the nearest already-chosen centroid
    centroids = [x[rng.integers(n)]]
    d2 = np.sum((x - centroids[0]) ** 2, axis=1)
    for _ in range(1, n_cells):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centroids.append(x[rng.choice(n, p=probs)])
        d2 = np.minimum(d2, np.sum((x - centroids[-1]) ** 2, axis=1))
    cents = np.vstack(centroids)
    # Lloyd refinement on the sample
    for _ in range(lloyd_iters):
        assign = np.argmax(x @ cents.T - 0.5 * np.sum(cents**2, axis=1), axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_topk(
    df_assigned: DataFrame,
    centroids: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 4,
) -> DataFrame:
    q = np.asarray(list(query), dtype=np.float64)
    order = np.argsort(-(centroids.astype(np.float64) @ q))
    probe_cells = [int(c) for c in order[:nprobe]]
    cos = F.round(cosine_to_query(F.col(vec_col), query), round_to)
    return (
        df_assigned.where(F.col("cell").isin(probe_cells))
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Persisted IVF index
# ---------------------------------------------------------------------------

def save_ivf_index(
    df: DataFrame,
    centroids: np.ndarray,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize an IVF index: the centroid matrix plus the vector
    table assigned to cells and written PARTITIONED BY cell.

    Train once, query many: at query time `load_ivf_index` + `ivf_topk`
    touch only the probed cells, and because cells are physical
    partition directories the probe is PartitionFilters-level pruning —
    at 100 TB a nprobe=4 query reads 4/n_cells of the data, enforced by
    the file listing, not a post-scan filter (pinned by
    test_ivf_index_roundtrip_prunes_partitions)."""
    spark = df.sparkSession
    # consistency marker, deleted FIRST and rewritten LAST: centroids
    # and vectors are two separate jobs, and a crash between them over
    # an existing index would otherwise leave NEW centroids beside OLD
    # cell assignments — probes then read the wrong partitions with no
    # error at all.  Missing marker = mid-write or interrupted; load
    # fails loudly instead of serving silently wrong neighbors.
    commit.clear_marker(spark, path)
    cent_rows = [
        (int(i), [float(v) for v in c]) for i, c in enumerate(centroids)
    ]
    spark.createDataFrame(
        cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = ivf_assign(df, centroids, vec_col=vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/vectors"
    )
    commit.stamp_marker(spark, path)



def load_ivf_index(spark, path: str):
    """Returns (assigned_vectors_df, centroid_matrix) for ivf_topk."""
    commit.require_marker(spark, path)
    cent_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    )
    centroids = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    return spark.read.parquet(f"{path}/vectors"), centroids


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    skip_existing: bool = False,
) -> None:
    """Grow a persisted IVF index with new vectors, assigned to the
    EXISTING centroids — the index-growth counterpart of the dedup
    indexes' append mode (a corpus ingests daily; retraining centroids
    per batch would re-shuffle the whole index).  Cell quality degrades
    gracefully as the distribution drifts (cells get larger, recall
    per probe falls) — retrain by rebuilding with save_ivf_index when
    drift warrants it.  Mismatched dimensionality fails in ivf_assign's
    matrix product rather than silently mis-assigning.

    Unlike the dedup indexes — where duplicate index rows provably
    cannot change results — a re-appended id here occupies EXTRA top-k
    slots, displacing real neighbors.  Callers retrying a batch must
    ensure ids are new, or pass skip_existing=True to anti-join the
    batch against the stored ids first (one extra id-column scan of
    the index — cheap next to re-ingesting wrong data, but not free,
    hence opt-in)."""
    spark = df.sparkSession
    _, centroids = load_ivf_index(spark, path)
    if skip_existing:
        existing = spark.read.parquet(f"{path}/vectors").select(id_col)
        df = df.join(existing, id_col, "left_anti")
    assigned = ivf_assign(df, centroids, vec_col=vec_col)
    assigned.write.mode("append").partitionBy("cell").parquet(
        f"{path}/vectors"
    )


def ivf_index_report(spark, path: str, vec_col: str = "embedding") -> dict:
    """Cell-size and drift report on a persisted IVF index — the retrain
    signal `append_to_ivf_index`'s docstring promises the caller.

    ONE scan of the stored vectors (the tiny centroid table broadcasts):
    per-cell vector count, parquet file count (the small-file /
    compact_index signal — appends add a file per touched cell per
    batch), and the mean cosine of each vector to its OWN centroid
    (assignment quality: drifted appends land far from every trained
    centroid and pull this down, which is exactly when recall-per-probe
    degrades and a save_ivf_index retrain pays for itself).

    Summary metrics:
      imbalance      max cell size / (total / n_cells) — 1.0 is uniform;
                     probe cost is driven by the largest probed cell, so
                     this is the tail-latency multiplier.
      size_cv        std/mean of cell sizes (0 = uniform).
      mean_cos_to_centroid   vector-weighted global mean.
      min_cell_mean_cos      the worst cell's mean (drift shows here
                             first when appends drift locally).
    Per-cell rows come back as `cells` (bounded by n_cells — the same
    driver-side bound load_ivf_index already accepts for centroids)."""
    vectors, centroids = load_ivf_index(spark, path)
    n_cells = len(centroids)
    cent_df = spark.createDataFrame(
        [(int(i), [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    cos = _dot(F.col(vec_col), F.col("centroid")) / (
        _norm(F.col(vec_col)) * _norm(F.col("centroid"))
    )
    per_cell = (
        vectors.select("cell", vec_col, F.input_file_name().alias("__file"))
        .join(F.broadcast(cent_df), "cell")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("__file").alias("files"),
            F.avg(cos).alias("mean_cos"),
        )
        .orderBy("cell")
        .collect()
    )
    sizes = [int(r["n"]) for r in per_cell]
    total = sum(sizes)
    mean_size = total / n_cells if n_cells else 0.0
    if sizes and mean_size:
        # empty cells count toward the variance: they ARE imbalance
        var = (
            sum((s - mean_size) ** 2 for s in sizes)
            + (n_cells - len(sizes)) * mean_size**2
        ) / n_cells
        cv = (var**0.5) / mean_size
        imbalance = max(sizes) / mean_size
    else:
        cv, imbalance = 0.0, 0.0
    w_cos = (
        sum(int(r["n"]) * float(r["mean_cos"]) for r in per_cell) / total
        if total
        else 0.0
    )
    return {
        "n_cells": n_cells,
        "populated_cells": len(sizes),
        "empty_cells": n_cells - len(sizes),
        "total_vectors": total,
        "min_cell": min(sizes) if sizes else 0,
        "max_cell": max(sizes) if sizes else 0,
        "mean_cell": mean_size,
        "imbalance": imbalance,
        "size_cv": cv,
        "mean_cos_to_centroid": w_cos,
        "min_cell_mean_cos": (
            min(float(r["mean_cos"]) for r in per_cell) if per_cell else 0.0
        ),
        "total_files": sum(int(r["files"]) for r in per_cell),
        "max_files_per_cell": (
            max(int(r["files"]) for r in per_cell) if per_cell else 0
        ),
        "cells": [
            {
                "cell": int(r["cell"]),
                "n": int(r["n"]),
                "files": int(r["files"]),
                "mean_cos": float(r["mean_cos"]),
            }
            for r in per_cell
        ],
    }


def retrain_ivf_index(
    spark,
    path: str,
    out_path: str,
    n_cells: Optional[int] = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: Optional[int] = None,
    seed: int = 42,
    lloyd_iters: int = 5,
) -> np.ndarray:
    """Retrain a persisted IVF index's centroids from its CURRENT
    vectors and write a fresh index at `out_path` — the action
    `ivf_index_report`'s drift metrics exist to trigger.  Closes the
    index lifecycle: save → append (drift accumulates) → report →
    retrain.

    Blue/green on purpose (same philosophy as the projection layer's
    dual-index rebuild): the retrained index materializes BESIDE the
    live one, readers keep probing `path` until the caller switches,
    and a mid-retrain failure leaves the live index untouched.  An
    in-place rewrite is refused — it would destroy the index readers
    are probing while the rewrite job runs.

    Scale shape: centroid re-derivation collects only the k-means
    sample to the driver (ivf_centroids_from_sample); the full-table
    re-assignment + partitioned rewrite is one distributed pass
    (save_ivf_index) — unavoidable for a retrain, since cell membership
    is exactly what changes.  `n_cells` defaults to the live index's
    cell count; pass a larger value when the report shows mean cell
    size has outgrown the probe budget."""
    if os.path.abspath(out_path) == os.path.abspath(path):
        raise ValueError(
            "retrain_ivf_index is blue/green: out_path must differ from "
            "the live index path"
        )
    vectors, old_centroids = load_ivf_index(spark, path)
    if n_cells is None:
        n_cells = len(old_centroids)
    # the stale cell assignment is dropped; ids and vectors carry over
    fresh = vectors.drop("cell")
    centroids = ivf_centroids_from_sample(
        fresh, n_cells, vec_col=vec_col, id_col=id_col,
        sample_size=sample_size, seed=seed, lloyd_iters=lloyd_iters,
    )
    save_ivf_index(fresh, centroids, out_path, vec_col=vec_col, id_col=id_col)
    return centroids


# ---------------------------------------------------------------------------
# int8 quantization — the memory/bandwidth lever for 100 TB embedding
# corpora: 4x smaller than float32, and integer dot products are EXACT,
# so ranking is bit-reproducible across engines and hardware (no FMA /
# accumulation-order drift — the property float scores cannot give)
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "qvec",
    scale_col: str = "scale",
    on_nan: str = "raise",
    use_arrow: bool = True,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|x_i|),
    q_i = floor(x_i / scale * 127 + 0.5) (round-half-up, identical on
    every engine — no banker's-rounding ambiguity), all-zero vectors
    quantize to zeros with scale 0.  Dequantize: q_i * scale / 127.

    NaN components would otherwise poison silently (scale -> NaN,
    floor(NaN) casts to NULL ints, quantized_topk's dot goes NULL and
    sorts unpredictably — ADVICE r10), so they are a loud boundary:
    on_nan="raise" (default) fails the job naming the offending id;
    on_nan="zero" quantizes NaN-bearing vectors to zeros with scale 0
    (the zero-vector convention — they rank last, deterministically).
    Spark's NaN ordering makes the check free: array_max returns NaN
    iff any |x_i| is NaN, so one isnan() on the scale guards the whole
    vector with no extra pass.

    Two evaluation paths, same IEEE double arithmetic, pytest-pinned
    equal:

    - `use_arrow=True` (default): an Arrow-batched numpy kernel via
      mapInPandas.  Catalyst's interpreted higher-order-function path
      evaluates the transform lambda PER ELEMENT PER ROW — measured
      ~2.2x DuckDB's vectorized list kernels at sf10 (r11 bench) — while
      numpy does the same `floor(x / scale * 127.0 + 0.5)` over the
      whole (batch, dim) matrix in C.  float32 -> float64 casts are
      exact and every op is the same double op in the same order, so
      the outputs are bit-identical, not just close.
    - `use_arrow=False`: the JVM Column-HOF form (transform/array_max),
      kept as the oracle-exact reference the s04 differential certifies
      and the fallback when Python workers are undesirable.

    Map-only either way: no shuffle; at 100 TB this is one pass that
    shrinks the ANN working set 4x."""
    if on_nan not in ("raise", "zero"):
        raise ValueError(f"on_nan must be 'raise' or 'zero', got {on_nan!r}")
    if use_arrow:
        id_field = df.schema[id_col]
        out_schema = T.StructType(
            [
                T.StructField(id_col, id_field.dataType, id_field.nullable),
                T.StructField(scale_col, T.DoubleType(), True),
                T.StructField(out_col, T.ArrayType(T.IntegerType()), True),
            ]
        )

        def _quantize_one(rid, v):
            # per-row slow path for dirty rows, Column-form semantics:
            # null vector -> (null, null); empty vector -> (null, [])
            # (array_max over an empty/null array is NULL, transform
            # over an empty array is []) — ADVICE r12: the batch kernel
            # must propagate these instead of letting numpy raise
            if v is None:
                return None, None
            arr = np.asarray(list(v), dtype=np.float64)
            if arr.size == 0:
                return None, []
            s = float(np.abs(arr).max())
            if np.isnan(s):
                if on_nan == "raise":
                    raise ValueError(
                        "quantize_embeddings: NaN component in "
                        f"vector {rid} (pass on_nan='zero' to "
                        "quantize these to zeros)"
                    )
                s = 0.0
            if s == 0.0:
                return s, [0] * arr.shape[0]
            return s, [
                int(x) for x in np.floor(arr / s * 127.0 + 0.5)
            ]

        def _quantize_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                try:
                    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                    if mat.ndim != 2 or mat.shape[1] == 0:
                        raise ValueError("empty-width batch")
                except (ValueError, TypeError):
                    # dirty batch (null / empty / ragged rows): per-row
                    # kernel with identical arithmetic on the live rows
                    scales, qvecs = [], []
                    for rid, v in zip(pdf[id_col], pdf[vec_col]):
                        s, qv = _quantize_one(rid, v)
                        scales.append(s)
                        qvecs.append(qv)
                    yield pd.DataFrame(
                        {
                            id_col: pdf[id_col],
                            scale_col: pd.Series(
                                scales, dtype="object"
                            ),
                            out_col: pd.Series(qvecs, dtype="object"),
                        }
                    )
                    continue
                scale = np.abs(mat).max(axis=1)
                nan_rows = np.isnan(scale)
                if nan_rows.any():
                    if on_nan == "raise":
                        bad = pdf[id_col].iloc[int(np.argmax(nan_rows))]
                        raise ValueError(
                            "quantize_embeddings: NaN component in "
                            f"vector {bad} (pass on_nan='zero' to "
                            "quantize these to zeros)"
                        )
                    scale = scale.copy()
                    scale[nan_rows] = 0.0
                q = np.zeros(mat.shape, dtype=np.int32)
                live = scale != 0.0
                if live.any():
                    # same op order as the Column form: ((x/scale)*127)+0.5
                    q[live] = np.floor(
                        mat[live] / scale[live, None] * 127.0 + 0.5
                    ).astype(np.int32)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        scale_col: scale,
                        out_col: list(q),
                    }
                )

        return df.select(id_col, vec_col).mapInPandas(
            _quantize_batches, out_schema
        )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale_raw = F.array_max(F.transform(v, lambda x: F.abs(x)))
    if on_nan == "raise":
        nan_branch = F.raise_error(
            F.concat(
                F.lit(
                    "quantize_embeddings: NaN component in vector "
                ),
                F.col(id_col).cast("string"),
                F.lit(" (pass on_nan='zero' to quantize these to zeros)"),
            )
        ).cast("double")
    else:
        nan_branch = F.lit(0.0)
    scale = F.when(F.isnan(scale_raw), nan_branch).otherwise(scale_raw)
    q = F.when(
        scale == F.lit(0.0),
        F.transform(v, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            v,
            lambda x: F.floor(x / scale * F.lit(127.0) + F.lit(0.5)).cast(
                "int"
            ),
        )
    )
    return df.select(
        F.col(id_col), scale.alias(scale_col), q.alias(out_col)
    )


def quantized_topk(
    df: DataFrame,
    query_qvec: Sequence[int],
    k: int = 10,
    q_col: str = "qvec",
    id_col: str = "vec_id",
    use_arrow: bool = True,
) -> DataFrame:
    """Exact top-k by INTEGER dot product over int8-quantized vectors
    (per-element products <= 127^2, accumulated in BIGINT — overflow-
    free to ~7e14 dimensions).  Deterministic ordering (dot desc, id
    asc).  Integer arithmetic means both paths below are EXACTLY equal,
    not merely equivalent rankings.

    - `use_arrow=True` (default): Arrow-batched numpy kernel — one
      int64 matvec per batch, then a per-batch top-k prune so at most
      k (id, dot) rows per Arrow batch reach the final global
      TakeOrderedAndProject.  A batch row beaten by >=k rows in its own
      batch is beaten by >=k rows globally, so the prune is lossless.
      This replaces the Column-HOF fold Catalyst evaluates per element
      per row (measured 96x DuckDB at sf10 in the r11 bench — the
      map-only plan was right, the per-element constant was not).
    - `use_arrow=False`: the JVM zip_with/aggregate fold, kept as the
      oracle-exact reference (s05) and the no-Python-workers fallback.

    Either way the scan reads 1/4 the float bytes and there is no
    shuffle — TakeOrderedAndProject gathers k rows."""
    if use_arrow:
        q = np.asarray([int(x) for x in query_qvec], dtype=np.int64)
        id_field = df.schema[id_col]
        out_schema = T.StructType(
            [
                T.StructField(id_col, id_field.dataType, id_field.nullable),
                T.StructField("dot", T.LongType(), True),
            ]
        )

        dim = len(q)

        def _topk_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vals = pdf[q_col]
                try:
                    mat = np.array(vals.tolist(), dtype=np.int64)
                    if mat.ndim != 2 or mat.shape[1] != dim:
                        raise ValueError("dim mismatch")
                except (ValueError, TypeError):
                    # dirty batch: null / empty / wrong-length /
                    # null-element qvecs get a NULL dot (the Column
                    # form's zip_with pads mismatches with null, so
                    # the fold is null) and rank last; live rows keep
                    # the exact integer matvec (ADVICE r12)
                    live_i, live_rows, dead_i = [], [], []
                    for i, v in enumerate(vals):
                        if (
                            v is not None
                            and len(v) == dim
                            and not any(x is None for x in v)
                        ):
                            live_i.append(i)
                            live_rows.append(list(v))
                        else:
                            dead_i.append(i)
                    parts = []
                    if live_rows:
                        dots = (
                            np.asarray(live_rows, dtype=np.int64) @ q
                        )
                        parts.append(
                            pd.DataFrame(
                                {
                                    id_col: pdf[id_col].iloc[
                                        live_i
                                    ].to_numpy(),
                                    "dot": dots,
                                }
                            )
                            .sort_values(
                                ["dot", id_col],
                                ascending=[False, True],
                                na_position="first",
                            )
                            .head(k)
                        )
                    if dead_i:
                        # null dots sort after every live dot; keep up
                        # to k so a short-on-live-rows global top-k
                        # still sees them — the k that sort FIRST by
                        # (id asc NULLS FIRST), the final total order
                        ids_ser = pdf[id_col]
                        dead_i = sorted(
                            dead_i,
                            key=lambda i: _id_asc_key(ids_ser.iloc[i]),
                        )[:k]
                        parts.append(
                            pd.DataFrame(
                                {
                                    id_col: ids_ser.iloc[
                                        dead_i
                                    ].to_numpy(),
                                    "dot": pd.Series(
                                        [None] * len(dead_i),
                                        dtype="object",
                                    ),
                                }
                            )
                        )
                    yield pd.concat(parts, ignore_index=True)
                    continue
                dots = mat @ q
                part = pd.DataFrame({id_col: pdf[id_col], "dot": dots})
                # integer dots are never NaN, so na_position only
                # touches null ids: first = Spark's asc NULLS FIRST
                yield part.sort_values(
                    ["dot", id_col], ascending=[False, True],
                    na_position="first",
                ).head(k)

        pruned = df.select(id_col, q_col).mapInPandas(
            _topk_batches, out_schema
        )
        return pruned.orderBy(F.desc("dot"), F.asc(id_col)).limit(k)
    qlit = F.array(*[F.lit(int(x)) for x in query_qvec])
    dot = F.aggregate(
        F.zip_with(F.col(q_col), qlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    return (
        df.select(F.col(id_col), dot.alias("dot"))
        .orderBy(F.desc("dot"), F.asc(id_col))
        .limit(k)
    )


def quantize_and_topk(
    df: DataFrame,
    query_qvec: Sequence[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    on_nan: str = "raise",
) -> DataFrame:
    """quantize_embeddings |> quantized_topk fused into ONE Arrow pass:
    each batch quantizes (same exact IEEE arithmetic as
    quantize_embeddings — pytest-pinned equal to the composition) and
    immediately takes the integer dot + per-batch top-k, so the int8
    code matrix never crosses the Arrow boundary back to the JVM.  Use
    when the quantized vectors are NOT needed downstream — a transient
    quantized scan; when they are (persisted index, repeated queries),
    quantize once with quantize_embeddings and call quantized_topk.

    Same NaN boundary as quantize_embeddings: on_nan='raise' (default)
    names the offending id; 'zero' maps NaN-bearing vectors to the
    zero-vector convention (dot 0, ranks last deterministically).

    Implementation is mapInArrow, not mapInPandas: for a non-null
    fixed-width list column the (batch, dim) float matrix is built by
    RESHAPING the Arrow child buffer (zero-copy) instead of
    round-tripping every row through a Python list — measured worth
    another ~25% at sf10 on top of the fusion (PLANS.md r12 A/B
    table).  Ragged or null-bearing batches fall back to the
    to_pylist path with identical arithmetic."""
    if on_nan not in ("raise", "zero"):
        raise ValueError(f"on_nan must be 'raise' or 'zero', got {on_nan!r}")
    q = np.asarray([int(x) for x in query_qvec], dtype=np.int64)
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("dot", T.LongType(), True),
        ]
    )

    dim = len(q)

    def _fused_batches(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec = batch.column(batch.schema.get_field_index(vec_col))
            idc = batch.column(batch.schema.get_field_index(id_col))
            mat = None
            if (
                isinstance(vec, (pa.ListArray, pa.LargeListArray))
                and vec.null_count == 0
            ):
                offs = vec.offsets.to_numpy(zero_copy_only=False)
                widths = np.diff(offs)
                if len(widths) and widths[0] == dim and (widths == widths[0]).all():
                    vals = vec.values.to_numpy(
                        zero_copy_only=False
                    ).astype(np.float64)
                    mat = vals[offs[0]: offs[-1]].reshape(n, int(widths[0]))
            if mat is None:  # ragged / null / dim-mismatched layout
                # Column-composition semantics (ADVICE r12): a null,
                # empty, or wrong-length vector quantizes to a null/
                # mismatched qvec whose zip_with dot is NULL — emit
                # those rows with a null dot (they rank last) instead
                # of letting np.array raise on the dirty batch
                rows = vec.to_pylist()
                live_i = [
                    i
                    for i, v in enumerate(rows)
                    if v is not None and len(v) == dim
                ]
                dead_i = [
                    i
                    for i, v in enumerate(rows)
                    if v is None or len(v) != dim
                ]
                if dead_i:
                    # final-order prune (id asc NULLS FIRST), not
                    # batch position — see _brute_force dead path
                    dead_i = sorted(
                        dead_i, key=lambda i: _id_asc_key(idc[i].as_py())
                    )[:k]
                    dead_sel = pa.array(dead_i)
                    yield pa.RecordBatch.from_arrays(
                        [
                            idc.take(dead_sel),
                            pa.nulls(len(dead_i), type=pa.int64()),
                        ],
                        names=[id_col, "dot"],
                    )
                if not live_i:
                    continue
                live_sel = pa.array(live_i)
                idc = idc.take(live_sel)
                n = len(live_i)
                mat = np.array(
                    [rows[i] for i in live_i], dtype=np.float64
                )
            scale = np.abs(mat).max(axis=1)
            nan_rows = np.isnan(scale)
            if nan_rows.any():
                if on_nan == "raise":
                    bad = idc[int(np.argmax(nan_rows))].as_py()
                    raise ValueError(
                        "quantize_and_topk: NaN component in vector "
                        f"{bad} (pass on_nan='zero' to quantize these "
                        "to zeros)"
                    )
                scale = scale.copy()
                scale[nan_rows] = 0.0
            qm = np.zeros(mat.shape, dtype=np.int64)
            live = scale != 0.0
            if live.any():
                # same op order as quantize_embeddings: ((x/s)*127)+0.5
                qm[live] = np.floor(
                    mat[live] / scale[live, None] * 127.0 + 0.5
                ).astype(np.int64)
            dots = qm @ q
            # per-batch prune: keep every row tying the k-th dot (a
            # small superset under ties), pandas-sort down to k only
            # when ties overflow — ids stay in their Arrow type
            m = min(k, n)
            kth = np.partition(dots, n - m)[n - m]
            sel = np.flatnonzero(dots >= kth)
            if len(sel) > k:
                sub = pd.DataFrame(
                    {
                        "i": sel,
                        "dot": dots[sel],
                        id_col: idc.take(pa.array(sel)).to_pandas(),
                    }
                ).sort_values(
                    ["dot", id_col], ascending=[False, True],
                    na_position="first",
                )
                sel = sub["i"].to_numpy()[:k]
            idx = pa.array(sel)
            yield pa.RecordBatch.from_arrays(
                [idc.take(idx), pa.array(dots[sel], type=pa.int64())],
                names=[id_col, "dot"],
            )

    pruned = df.select(id_col, vec_col).mapInArrow(
        _fused_batches, out_schema
    )
    return pruned.orderBy(F.desc("dot"), F.asc(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Product quantization (PQ): 16x+ compression ANN (Jegou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 — the FAISS IVF-PQ
# architecture's fine quantizer)
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: Optional[int] = None,
    seed: int = 42,
    lloyd_iters: int = 5,
) -> np.ndarray:
    """Train per-subspace codebooks on a deterministic hash-ordered
    sample: split each d-dim vector into n_subspaces contiguous blocks,
    k-means (k-means++ seeding + Lloyd, L2) each block independently.
    Returns codebooks of shape (n_subspaces, n_codes, d/n_subspaces).
    The default 8x256 is the classic one-byte-per-code config (8
    bytes/vector at d=64 — 32x smaller than float32); measured mean
    recall@10 vs brute force: 0.60-0.68 on the synthetic embeddings,
    vs ~0.3 for 4-bit k=16 codes (tests pin the panel).

    Scale shape mirrors ivf_centroids_from_sample: ONLY the sample
    (default 64 vectors per code) reaches the driver; training is numpy
    on thousands of rows regardless of corpus size, and everything
    downstream (encode, ADC scan) stays distributed."""
    if sample_size is None:
        sample_size = max(1024, n_codes * 64)
    rows = (
        df.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(sample_size)
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    if x.size == 0:
        raise ValueError("cannot train PQ codebooks from an empty table")
    d = x.shape[1]
    if d % n_subspaces:
        raise ValueError(
            f"vector dim {d} not divisible by n_subspaces={n_subspaces}"
        )
    dsub = d // n_subspaces
    k = min(n_codes, len(x))
    rng = np.random.default_rng(seed)
    books = np.zeros((n_subspaces, n_codes, dsub))
    for j in range(n_subspaces):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = [xs[rng.integers(len(xs))]]
        d2 = np.sum((xs - cents[0]) ** 2, axis=1)
        for _ in range(1, k):
            s = d2.sum()
            probs = d2 / s if s > 0 else np.full(len(xs), 1.0 / len(xs))
            cents.append(xs[rng.choice(len(xs), p=probs)])
            d2 = np.minimum(d2, np.sum((xs - cents[-1]) ** 2, axis=1))
        cb = np.vstack(cents)
        # Lloyd refinement, bit-identical vectorized form (r15): the
        # former per-cluster boolean masks scanned the whole sample
        # k times per iteration (k*n element tests); a stable argsort
        # groups members contiguously so each mean reads one slice.
        # ||x||^2 is constant across iterations — hoisted.  Each slice
        # holds the same rows in the same ascending order as the mask
        # gather did, and numpy's pairwise mean over the same layout
        # returns the same bits (pinned: test_pq_train_lloyd_pinned).
        x_sq = np.sum(xs**2, axis=1, keepdims=True)
        for _ in range(lloyd_iters):
            assign = np.argmin(
                x_sq - 2 * xs @ cb.T + np.sum(cb**2, axis=1),
                axis=1,
            )
            order = np.argsort(assign, kind="stable")
            xs_sorted = xs[order]
            bounds = np.searchsorted(assign[order], np.arange(k + 1))
            for c in range(k):
                lo, hi = bounds[c], bounds[c + 1]
                if hi > lo:
                    cb[c] = xs_sorted[lo:hi].mean(axis=0)
        books[j, :k] = cb
        if k < n_codes:
            # degenerate tiny-sample case: pad with the first centroid so
            # code values stay in range; encode never emits a pad code
            books[j, k:] = cb[0]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector to n_subspaces small-int codes (nearest
    codebook entry per block, L2). 64 float32 dims at m=8 become 8
    bytes — 32x smaller. Arrow-batched numpy at the documented UDF
    boundary (argmin over a (batch, k) distance matrix per subspace;
    no JVM expression computes a k-way argmin without k full passes).
    Map-only: no shuffle; ties break to the LOWEST code index
    (np.argmin), pinned in tests for cross-run determinism."""
    books = codebooks.astype(np.float64)
    m, k, dsub = books.shape

    @F.pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        codes = np.zeros((len(mat), m), dtype=np.int32)
        for j in range(m):
            xs = mat[:, j * dsub : (j + 1) * dsub]
            cb = books[j]
            d2 = (
                np.sum(xs**2, axis=1, keepdims=True)
                - 2 * xs @ cb.T
                + np.sum(cb**2, axis=1)
            )
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, encode(F.col(vec_col)))


def pq_topk(
    df_codes: DataFrame,
    codebooks: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k by approximate inner product:
    precompute the (m x n_codes) lookup table dot(query_block,
    codebook entry) ON THE DRIVER (tiny), ship it as an array literal,
    and score each row with a JVM-side fold over its m codes — NO
    Python in the scan, no shuffle, TakeOrderedAndProject gathers k
    rows. For cosine semantics, L2-normalize vectors before
    pq_train/pq_encode (ADC ranks by raw inner product).

    This is the quantized-scan shape that survives 100 TB: the corpus
    is read as m ints per row (32x fewer bytes than the float
    vectors), the LUT is m*n_codes doubles broadcast inside the plan,
    and recall is measured against brute_force_topk, exactly like the
    IVF/LSH paths."""
    score = pq_adc_score(codebooks, query, code_col=code_col)
    return (
        df_codes.select(F.col(id_col), score.alias("adc_score"))
        .orderBy(F.desc("adc_score"), F.asc(id_col))
        .limit(k)
    )


def pq_adc_score(
    codebooks: np.ndarray,
    query: Sequence[float],
    code_col: str = "pq_code",
) -> Column:
    """The ADC inner-product Column pq_topk ranks by, exposed so
    callers can score WITHOUT the top-k cut (full-corpus score
    exports, recall studies, the s07 planted differential).  LUT[j][c]
    = dot(query_block_j, codebooks[j][c]) is computed on the driver
    (m*n_codes doubles) and shipped as one array literal; the score is
    a JVM fold of m lookups — no Python in the scan."""
    books = codebooks.astype(np.float64)
    m, n_codes, dsub = books.shape
    q = np.asarray(list(query), dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(
            f"query dim {q.shape[0]} != codebook dim {m * dsub}"
        )
    lut = np.einsum(
        "mkd,md->mk", books, q.reshape(m, dsub)
    )  # lut[j][c] = dot(q_j, books[j][c])
    lut_lit = F.array(*[F.lit(float(v)) for v in lut.ravel()])
    codes = F.col(code_col)
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            lut_lit, j * F.lit(n_codes) + F.element_at(codes, j + 1) + 1
        ),
    )


# ---------------------------------------------------------------------------
# Persisted PQ index: train once, encode the corpus to codes on disk,
# query many — the 32x-smaller ANN working set as a durable artifact
# ---------------------------------------------------------------------------

def save_pq_index(
    df: DataFrame,
    codebooks: np.ndarray,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize a PQ index: the codebook tensor plus the corpus
    encoded to m-byte codes. Queries then scan CODES ONLY — at 100 TB
    of float32 embeddings the stored index is ~3 TB, and every ADC
    top-k reads that, not the vectors.

    Same crash discipline as the IVF/MinHash/cosine/Hamming indexes:
    the consistency marker is deleted FIRST and rewritten LAST, so a
    crash between the codebook write and the code write leaves a
    loudly-unreadable index instead of codes decoded against the wrong
    codebooks (which would silently rank garbage)."""
    spark = df.sparkSession
    m, k, dsub = codebooks.shape
    commit.clear_marker(spark, path)
    book_rows = [
        (int(j), int(c), [float(v) for v in codebooks[j, c]])
        for j in range(m)
        for c in range(k)
    ]
    spark.createDataFrame(
        book_rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    pq_encode(df, codebooks, vec_col=vec_col).select(
        id_col, "pq_code"
    ).write.mode("overwrite").parquet(f"{path}/codes")
    commit.stamp_marker(spark, path)


def load_pq_index(spark, path: str):
    """Returns (codes_df, codebook_tensor) for pq_topk."""
    commit.require_marker(spark, path)
    rows = (
        spark.read.parquet(f"{path}/codebooks")
        .orderBy("subspace", "code")
        .collect()
    )
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    books = np.zeros((m, k, dsub))
    for r in rows:
        books[r["subspace"], r["code"]] = r["centroid"]
    return spark.read.parquet(f"{path}/codes"), books


def append_to_pq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    skip_existing: bool = False,
) -> None:
    """Grow a persisted PQ index: new vectors encode against the
    EXISTING codebooks (the append contract shared with the IVF index —
    quantization error drifts up as the distribution moves; rebuild
    with save_pq_index when a recall check warrants it).  Re-appended
    ids occupy extra top-k slots exactly as in IVF, so the same
    skip_existing anti-join is offered, opt-in.

    Marker discipline matches save_pq_index (r11 advice): the
    consistency marker is deleted BEFORE the append and recreated
    AFTER, so a crash mid-append (non-atomic committers, object
    stores) leaves a loudly-unreadable index rather than a
    marked-consistent one with partially appended codes."""
    spark = df.sparkSession
    _, books = load_pq_index(spark, path)
    if skip_existing:
        existing = spark.read.parquet(f"{path}/codes").select(id_col)
        df = df.join(existing, id_col, "left_anti")
    commit.clear_marker(spark, path)
    pq_encode(df, books, vec_col=vec_col).select(
        id_col, "pq_code"
    ).write.mode("append").parquet(f"{path}/codes")
    commit.stamp_marker(spark, path)
