"""Streaming corpus curation: incremental dedup of a document stream
against a growing persisted corpus.

The batch pipeline (operators/curation.py) answers "curate THIS corpus";
a production ingest is a STREAM of new documents where each batch must
be deduped against everything accepted before it.  This module composes
the persisted MinHash index (operators/dedup.py::save_minhash_index /
dedup_against_index) with Structured Streaming's foreachBatch:

    new docs stream ──► [intra-batch dedup] ──► [probe corpus index]
                                                   │ novel docs
                                   corpus parquet ◄┴► index (append)

Each micro-batch is (1) deduped within itself (one-shot pair scan over
the batch only — batches are small), (2) probed against the index with
a broadcast of the batch's banded rows (the corpus is never shuffled or
re-banded), and (3) the surviving novel documents are appended to both
the output corpus and the index, so the NEXT batch dedups against them.

Delivery note (T3 family): foreachBatch is at-least-once on retry.
The INDEX side stays that way — a replayed batch re-appends its banded
rows, and duplicate index rows cannot change RESULTS (candidates are
de-duplicated and verification is exact), they only cost index bytes
until the next compaction.  The CORPUS side is idempotent twice over:

  * **content-keyed** — the probe runs with ``include_same_id=True``,
    so a redelivered document (same id, same text) finds its own index
    row and rejects itself as already-accepted.  This holds across
    checkpoint resets and arbitrary re-batching of the source: a doc
    whose index append committed can never be written to the corpus a
    second time, no matter which epoch replays it.
  * **position-keyed** — each micro-batch writes its own
    ``run=<query id>/epoch=<epoch_id>`` subdirectory with overwrite, so
    a retried batch whose index append did NOT commit (crash between
    corpus write and index append) replaces its previous partial output
    instead of appending a second copy.  The run segment is the
    streaming query id from the checkpoint's metadata: epoch ids are
    only unique PER CHECKPOINT, and without the run scope a stream
    restarted with a fresh checkpoint over new input would silently
    overwrite an earlier run's ``epoch=N`` corpus data.

  The two keys interact on one asymmetric crash: save_minhash_index's
  grams and bands appends are separate jobs, so a crash mid-append can
  commit doc A's index rows while doc C's never land.  On replay A
  self-rejects (content key) while C is re-accepted — and a naive
  epoch overwrite would then REPLACE the previous ``{A, C}`` output
  with ``{C}``, stranding A in the index forever but never in the
  corpus.  The rule is therefore **never shrink an existing epoch
  dir**: a retried epoch first unions the rows already committed under
  its own ``run=/epoch=`` path with the newly accepted set (distinct
  by id) and replaces the epoch dir with the union, so partial index
  commits can only ever ADD corpus rows on replay, never drop them.
  The replace is ``commit.swap_dir`` (crash-safe: the epoch dir never
  passes through an empty or partial state; see ``commit``).

  One failure class stays OUTSIDE the delivery contract: external loss
  of a COMMITTED epoch's corpus files (someone deletes data files of a
  batch whose checkpoint commit landed).  The affected docs remain in
  the index (self-rejecting on any redelivery) but cannot be
  reconstructed from it — the index stores hashed shingles, never text,
  by design.  That divergence is cheaply DETECTABLE:
  ``index_corpus_divergence`` returns the stranded ids so an operator
  can re-ingest those documents from the source of truth.  (A general
  "readmit self-matched docs" write was considered and rejected: a doc
  redelivered under a FRESH checkpoint also self-matches, and
  readmitting it would duplicate it across run directories.)

Readers see ``run``/``epoch`` as ordinary partition columns —
ingest lineage for free.

Reference behavior note: the reference has no streaming curation surface
(its change feed drives projections only); this operator exists for the
100 TB training-data pipeline, same status as dedup/similarity.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from cloudfabric_eventsourcing_spark import commit
from cloudfabric_eventsourcing_spark.operators import dedup as _dedup


def _check_corpus_layout(spark, corpus_path: str) -> None:
    """Fail fast on a corpus directory written by the pre-run/epoch flat
    append layout: mixing root-level parquet files with run=/epoch=
    subdirectories gives Spark's partition discovery conflicting
    directory depths (it refuses the read), and silently continuing
    would strand the legacy rows.  Migration: move the flat files into
    ``run=legacy/epoch=0/`` under the same root."""
    P, fs = commit.hadoop_fs(spark, corpus_path)
    jpath = P(corpus_path)
    if not fs.exists(jpath):
        return
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isFile() and not name.startswith(("_", ".")):
            raise ValueError(
                f"corpus_path {corpus_path!r} holds root-level data "
                f"files (e.g. {name!r}) from the legacy flat-append "
                "layout; curate_stream now writes run=<id>/epoch=<n> "
                "subdirectories and Spark rejects mixed-depth layouts. "
                "Migrate first: move the flat files into "
                f"{corpus_path}/run=legacy/epoch=0/"
            )


def _write_epoch_never_shrink(
    spark, epoch_path: str, accepted: DataFrame, id_col: str
) -> None:
    """Run+epoch-keyed idempotent corpus write shared by the text and
    vector loops: replay any interrupted swap, union with rows already
    committed under this epoch path (never-shrink rule — see module
    docstring), and install via `commit.swap_dir` when prior rows exist
    (a naive overwrite deletes the epoch dir before the new files
    commit, so a crash in that window would lose the prior attempt's
    committed rows)."""
    commit.recover_swap_dir(spark, epoch_path)
    union_with_prior = False
    corpus_rows = accepted
    P, fs = commit.hadoop_fs(spark, epoch_path)
    if fs.exists(P(epoch_path)):
        try:
            prior = spark.read.parquet(epoch_path)
            corpus_rows = (
                prior.unionByName(accepted)
                .dropDuplicates([id_col])
                .localCheckpoint(eager=True)
            )
            union_with_prior = True
        except AnalysisException:
            # dir exists but holds no readable parquet (crash right
            # after mkdir, before any file): nothing to preserve
            pass
    if union_with_prior:
        commit.swap_dir(spark, epoch_path, corpus_rows)
    else:
        # first attempt (or unreadable debris): nothing committed to
        # lose, plain overwrite
        corpus_rows.write.mode("overwrite").parquet(epoch_path)


def index_corpus_divergence(
    spark,
    index_path: str,
    corpus_path: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Ids present in the MinHash index but absent from the corpus — the
    stranded-document detector for the externally-lost-epoch failure
    class (module docstring).  A healthy pipeline returns an empty
    frame; non-empty output lists exactly the documents to re-ingest
    from the source of truth.

    Scale shape: one column-pruned scan of the index grams id column
    and one of the corpus id column, a distinct per side, one anti-join
    — no text is read, no index partition is re-banded."""
    index_ids = (
        spark.read.parquet(f"{index_path}/grams")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    try:
        corpus_ids = (
            spark.read.parquet(corpus_path).select(id_col).distinct()
        )
    except AnalysisException:
        # corpus dir empty/unreadable: everything indexed is stranded
        return index_ids
    return index_ids.join(corpus_ids, id_col, "left_anti")


def curate_batch_against_index(
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    banding: Optional[tuple] = None,
    return_edges: bool = False,
) -> DataFrame:
    """One micro-batch's survivors: intra-batch near-dups collapse to
    their min-id representative, then anything near-duplicating the
    persisted corpus index is dropped.  Pure transformation — callers
    decide what to do with the survivors.  With ``return_edges=True``
    returns ``(accepted, edges)`` where edges is the batch's evaluated
    duplicate-pair graph (id_a, id_b) for cluster provenance.

    The intra-batch scan uses the INDEX's pinned banding parameters,
    not the library defaults: otherwise a pair of docs could be judged
    duplicates when they arrive in the same batch (default shingling)
    but both accepted when they arrive in different batches (index
    shingling) — acceptance must not depend on batch arrival.
    `banding=(num_perm, bands, n)` skips the meta re-read for callers
    that already hold it (curate_stream reads it once per stream, not
    per micro-batch)."""
    num_perm, bands, n = banding or _dedup._read_minhash_meta(
        batch.sparkSession, index_path
    )
    pairs = _dedup.minhash_lsh_pairs(
        batch, threshold=threshold, num_perm=num_perm, bands=bands, n=n,
        text_col=text_col, id_col=id_col,
    )
    if return_edges:
        # pairs and cross each feed BOTH outputs (accepted + edges);
        # materialize once so the LSH scan and the index probe are not
        # re-run by the second consumer
        pairs = pairs.localCheckpoint(eager=True)
    kept = _dedup.lsh_dedup_representatives(pairs, batch, id_col=id_col)
    # include_same_id: a redelivered doc (same id, same text) finds its
    # own index row and rejects itself — content-keyed idempotence, so
    # acceptance never depends on epoch numbering or checkpoint identity
    cross = _dedup.dedup_against_index(
        kept, index_path, threshold=threshold,
        text_col=text_col, id_col=id_col,
        banding=(num_perm, bands, n),
        include_same_id=True,
    )
    if return_edges:
        cross = cross.localCheckpoint(eager=True)
    dup_ids = cross.select(F.col("new_id").alias(id_col)).distinct()
    accepted = kept.join(dup_ids, id_col, "left_anti")
    if not return_edges:
        return accepted
    # duplicate-family provenance: every pair edge this batch's dedup
    # evaluated — intra-batch near-dups plus batch-vs-corpus matches
    # (self-matches of redelivered docs excluded: a self loop carries no
    # family information).  These are exactly the edges the streaming
    # cluster index (operators/graph.py) folds in per batch.
    edges = pairs.select("id_a", "id_b").unionByName(
        cross.where(F.col("new_id") != F.col("index_id")).select(
            F.col("new_id").alias("id_a"), F.col("index_id").alias("id_b")
        )
    )
    return accepted, edges


def curate_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    available_now: bool = True,
    compact_every: Optional[int] = None,
    clusters_path: Optional[str] = None,
    quarantine_path: Optional[str] = None,
    quarantine_transform: Optional[Callable[[DataFrame], DataFrame]] = None,
):
    """Run the streaming curation pipeline; returns the started query.

    `index_path` must already hold a MinHash index (save_minhash_index
    over the existing corpus — an empty corpus DataFrame works for a
    cold start).  `batch_transform`, when given, runs FIRST on each
    batch (quality gates, PII scrub — any batch-local stage of
    operators/curation.py), so only documents that pass gating spend
    dedup work.

    `compact_every=N` folds the index's accumulated append fragments
    (operators/index_maintenance.compact_index) after every N
    non-empty batches, bounding per-partition file counts under a
    long-running ingest — without it, each accepted micro-batch adds
    one file per touched band partition and the probe's file-listing
    advantage erodes (the small-files pathology).  Compaction keeps
    results byte-identical and its mid-swap read view only ever shows
    transient duplicate index rows, which the probe de-duplicates, so
    it is safe to run between (not during) this stream's own batches —
    foreachBatch serializes them.  The counter is in-memory
    (per-run): a restart just restarts the cadence, and a replayed
    batch at worst compacts one batch early — idempotent.

    `clusters_path`, when given, maintains a persisted duplicate-family
    cluster index (operators/graph.py) online: each batch's evaluated
    pair edges — intra-batch near-dups and batch-vs-corpus matches —
    fold in at batch cost, so rejected docs keep provenance ("dropped
    as a duplicate of family F") without any batch recompute.  The
    index cold-starts on first use and its appends are at-least-once
    idempotent (a replayed batch re-appends the same edges, which
    cannot change a min-closure).  Family scope, honestly stated: the
    labels cluster the edges this loop EVALUATES.  Rejected docs are
    never indexed, so a rejected-to-rejected similarity across batches
    is not probed and cannot merge two families on its own — families
    connect through accepted (indexed) members, which is the curation
    loop's provenance question, not a full all-pairs closure (the
    offline `close_rejected_families` pass fills that gap on demand).

    `quarantine_path` + `quarantine_transform`: per-batch side channel
    for rows the `batch_transform` silently drops (media compositions
    with on_error="skip" — see curate_image_stream).  The transform runs
    on the RAW batch and its output is written run/epoch-keyed under
    `quarantine_path` — see _run_curation_stream for the delivery
    semantics."""
    # appends must band exactly like the existing index: read its pinned
    # parameters once, up front (also fails fast on a missing index)
    num_perm, bands, n = _dedup._read_minhash_meta(
        stream.sparkSession, index_path
    )

    def probe(batch: DataFrame, return_edges: bool):
        return curate_batch_against_index(
            batch, index_path, threshold=threshold,
            text_col=text_col, id_col=id_col,
            banding=(num_perm, bands, n),
            return_edges=return_edges,
        )

    def append(accepted: DataFrame) -> None:
        _dedup.save_minhash_index(
            accepted.select(id_col, text_col), index_path,
            num_perm=num_perm, bands=bands, n=n,
            text_col=text_col, id_col=id_col, mode="append",
        )

    return _run_curation_stream(
        stream, index_path, corpus_path, checkpoint, id_col,
        probe, append, batch_transform, available_now,
        compact_every, clusters_path, quarantine_path,
        quarantine_transform,
    )


def _run_curation_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    id_col: str,
    probe: Callable,
    append: Callable[[DataFrame], None],
    batch_transform: Optional[Callable[[DataFrame], DataFrame]],
    available_now: bool,
    compact_every: Optional[int],
    clusters_path: Optional[str],
    quarantine_path: Optional[str] = None,
    quarantine_transform: Optional[Callable[[DataFrame], DataFrame]] = None,
):
    """Modality-independent streaming-curation skeleton shared by the
    text (MinHash) and embedding (cosine-LSH) loops: per micro-batch,
    gate → `probe` (intra-batch dedup + persisted-index probe; returns
    accepted or (accepted, edges)) → cluster-index fold → run/epoch
    idempotent corpus write → `append` (grow the index) → compaction
    cadence.  All delivery/crash reasoning in the module docstring
    applies to any (probe, append) pair whose probe is content-keyed
    idempotent (include_same_id) and whose append only ever ADDS
    index rows.

    Quarantine side channel (r8 verdict): when both `quarantine_path`
    and `quarantine_transform` are given, the transform runs on each
    RAW batch (before `batch_transform`) and any rows it returns are
    written to ``{quarantine_path}/run=<id>/epoch=<n>`` with overwrite.
    Idempotence is structural: the report derives deterministically
    from the batch's content, so a replayed epoch overwrites its own
    subdirectory with identical rows, and a fresh-checkpoint redelivery
    lands under a new run segment — same lineage semantics as the
    corpus.  The write happens FIRST so a crash later in the batch
    still leaves the report for the operator to act on.  Cost: one
    extra decode attempt per blob per batch (batch-bounded, not
    corpus-bounded); pipelines that cannot afford it pass
    quarantine_path=None and run media_decode_errors offline."""
    # refuse a legacy flat-layout corpus before the first batch runs
    _check_corpus_layout(stream.sparkSession, corpus_path)
    accepted_batches = [0]
    run_id: list = [None]

    def _run_id(spark) -> str:
        # the streaming query id: stable across restarts of the SAME
        # checkpoint (so a retried epoch overwrites itself), fresh for a
        # NEW checkpoint (so old runs' epochs are never clobbered).
        # Written by Spark to {checkpoint}/metadata before the first
        # batch runs; read once per run.
        if run_id[0] is None:
            run_id[0] = str(
                spark.read.json(f"{checkpoint}/metadata").collect()[0]["id"]
            )
        return run_id[0]

    def _process(batch: DataFrame, epoch_id: int) -> None:
        if quarantine_path is not None and quarantine_transform is not None:
            # materialize once (same pattern as `accepted` below): the
            # report plan re-attempts every blob's decode, so probing
            # emptiness and then writing the unmaterialized plan would
            # run that decode pass twice per batch
            bad = quarantine_transform(batch).localCheckpoint(eager=True)
            if not bad.isEmpty():
                bad.write.mode("overwrite").parquet(
                    f"{quarantine_path}/run={_run_id(batch.sparkSession)}"
                    f"/epoch={epoch_id}"
                )
        if batch_transform is not None:
            batch = batch_transform(batch)
        result = probe(batch, clusters_path is not None)
        accepted = result[0] if clusters_path is not None else result
        # materialize once: the corpus write, the index append, and the
        # emptiness probe would otherwise each re-run the dedup joins
        accepted = accepted.localCheckpoint(eager=True)
        if clusters_path is not None:
            # BEFORE the empty-accept early exit: a batch whose docs
            # were ALL rejected still carries family edges (that is the
            # provenance case).  Replays re-append identical edges —
            # harmless to the min-closure (see append_cluster_pairs).
            from cloudfabric_eventsourcing_spark.operators.graph import (
                append_cluster_pairs,
            )

            edges = result[1].localCheckpoint(eager=True)
            if not edges.isEmpty():
                append_cluster_pairs(batch.sparkSession, clusters_path, edges)
        if accepted.isEmpty():
            return
        # run+epoch-keyed idempotent write (see module docstring): a
        # retried batch overwrites ONLY its own subdirectory, and a
        # fresh checkpoint gets a fresh run segment
        spark = batch.sparkSession
        epoch_path = (
            f"{corpus_path}/run={_run_id(spark)}/epoch={epoch_id}"
        )
        # never-shrink rule (module docstring): a retried epoch whose
        # previous attempt committed the corpus write but only PART of
        # the index append re-accepts the un-indexed docs and
        # self-rejects the indexed ones — union with the rows already
        # under this epoch path so the indexed-but-replayed docs are
        # not dropped from the corpus.  localCheckpoint (above) breaks
        # lineage to the path we are about to overwrite.
        _write_epoch_never_shrink(spark, epoch_path, accepted, id_col)
        # index append stays on the NEW survivors only: the prior rows
        # either have index entries already (that's why they
        # self-rejected) or are in `accepted` too
        append(accepted)
        accepted_batches[0] += 1
        if compact_every and accepted_batches[0] % compact_every == 0:
            from cloudfabric_eventsourcing_spark.operators.index_maintenance import (
                compact_index,
            )

            compact_index(batch.sparkSession, index_path)
            # same cadence for the cluster journal (existence-gated: a
            # stream that never saw a pair edge has no index yet);
            # foreachBatch serializes batches, so this runs at the
            # compaction's required single-writer point (graph.py)
            if clusters_path is not None:
                from cloudfabric_eventsourcing_spark.operators.graph import (
                    compact_cluster_index,
                )

                P, fs = commit.hadoop_fs(batch.sparkSession, clusters_path)
                if fs.exists(P(f"{clusters_path}/labels")):
                    compact_cluster_index(batch.sparkSession, clusters_path)

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curate_vector_batch_against_index(
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta: Optional[tuple] = None,
    return_edges: bool = False,
):
    """Embedding twin of curate_batch_against_index: one micro-batch's
    surviving vectors after intra-batch cosine near-dup collapse and a
    probe of the persisted cosine-LSH index (dedup.save_cosine_index).
    With ``return_edges=True`` returns ``(accepted, edges)`` where edges
    is the batch's evaluated duplicate-pair graph for cluster provenance.

    The intra-batch scan uses the INDEX's pinned (dims, bits, seed) —
    acceptance must not depend on which batch a vector arrives in.  The
    probe runs ``include_same_id=True``: a redelivered vector (same id,
    same embedding) buckets identically, finds its own index row, and
    rejects itself — the content-keyed idempotence leg of the delivery
    contract (module docstring)."""
    dims, bits, seed = meta or _dedup._read_cosine_meta(
        batch.sparkSession, index_path
    )
    pairs = _dedup.cosine_neardup_pairs_lsh(
        batch, threshold=threshold, dims=dims, bits=bits, seed=seed,
        vec_col=vec_col, id_col=id_col,
    )
    if return_edges:
        # pairs and cross each feed BOTH outputs (accepted + edges);
        # materialize once so the bucket scan and the index probe are
        # not re-run by the second consumer
        pairs = pairs.localCheckpoint(eager=True)
    kept = _dedup.lsh_dedup_representatives(pairs, batch, id_col=id_col)
    cross = _dedup.cosine_dedup_against_index(
        kept, index_path, threshold=threshold,
        vec_col=vec_col, id_col=id_col,
        meta=(dims, bits, seed), include_same_id=True,
    )
    if return_edges:
        cross = cross.localCheckpoint(eager=True)
    dup_ids = cross.select(F.col("new_id").alias(id_col)).distinct()
    accepted = kept.join(dup_ids, id_col, "left_anti")
    if not return_edges:
        return accepted
    # duplicate-family provenance: intra-batch near-dup pairs plus
    # batch-vs-corpus matches (self-matches of redelivered vectors
    # excluded: a self loop carries no family information)
    edges = pairs.select("id_a", "id_b").unionByName(
        cross.where(F.col("new_id") != F.col("index_id")).select(
            F.col("new_id").alias("id_a"), F.col("index_id").alias("id_b")
        )
    )
    return accepted, edges


def curate_vector_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    available_now: bool = True,
    compact_every: Optional[int] = None,
    clusters_path: Optional[str] = None,
    quarantine_path: Optional[str] = None,
    quarantine_transform: Optional[Callable[[DataFrame], DataFrame]] = None,
):
    """Streaming curation for the EMBEDDING modality — the cosine-LSH
    twin of curate_stream, sharing its skeleton and its entire
    delivery/crash contract (module docstring): per micro-batch,
    intra-batch cosine dedup → probe of the persisted cosine index →
    run/epoch never-shrink corpus write → index append → compaction
    cadence, with optional online duplicate-family clustering.

    `index_path` must already hold a cosine index (dedup.save_cosine_index
    over the existing corpus — an empty frame works for a cold start,
    pinning (dims, bits, seed) for every batch that follows).  The
    index append is ONE bucketed write per batch (no two-phase grams/
    bands asymmetry), so the only replay case is crash-between-corpus-
    write-and-index-append, which the never-shrink epoch union already
    covers.  Compaction (`compact_every=`) folds the per-batch bucket
    fragments through the same compact_index machinery — the cosine
    layout's `vectors/bucket=` dirs are a first-class dataset there.

    Scale shape per batch: the corpus is touched only at the probed
    bucket prefixes (≤2^10 partition dirs; the full bucket value prunes
    row groups inside them — save_cosine_index's r9 layout), the batch
    side broadcasts, and the append writes only the accepted rows —
    nothing corpus-sized ever shuffles.  Batch cost measured ~flat
    100k→500k vectors at bits=16 (PLANS.md Round-9, cosine probe
    study).  Flatness is CONDITIONAL on bucket cardinality: at bits
    too low for the corpus (2^bits ≲ batch × (bits+1) probes) the probe
    degrades toward a corpus scan — pick bits ≈ log2(corpus /
    target-occupancy) at index creation, and blue/green re-bucket when
    the corpus outgrows it (the pinned meta makes that detectable, not
    silent)."""
    dims, bits, seed = _dedup._read_cosine_meta(
        stream.sparkSession, index_path
    )

    def probe(batch: DataFrame, return_edges: bool):
        return curate_vector_batch_against_index(
            batch, index_path, threshold=threshold,
            vec_col=vec_col, id_col=id_col,
            meta=(dims, bits, seed), return_edges=return_edges,
        )

    def append(accepted: DataFrame) -> None:
        _dedup.save_cosine_index(
            accepted.select(id_col, vec_col), index_path,
            dims=dims, bits=bits, seed=seed,
            vec_col=vec_col, id_col=id_col, mode="append",
        )

    return _run_curation_stream(
        stream, index_path, corpus_path, checkpoint, id_col,
        probe, append, batch_transform, available_now,
        compact_every, clusters_path, quarantine_path,
        quarantine_transform,
    )


def curate_image_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.995,
    out_dim: int = 16,
    fake: bool = False,
    quarantine_path: Optional[str] = None,
    available_now: bool = True,
    compact_every: Optional[int] = None,
    clusters_path: Optional[str] = None,
    decoder=None,
):
    """Streaming near-dup curation of IMAGE media rows (MEDIA_SCHEMA
    shape): curate_vector_stream with batch_transform =
    multimodal.image_feature_vectors — and, critically, with the
    corrupt-media policy a production ingest needs (r8 verdict): the
    feature step runs ``on_error="skip"``, so one truncated JPEG in a
    batch can never raise inside foreachBatch and kill the whole
    streaming query.  Undecodable blobs are not silently lost: with
    `quarantine_path` given, each batch's decode failures are written
    run/epoch-keyed via media_decode_errors (one row per bad blob —
    error class, message, byte count) for re-ingest/transcode triage.

    The composition contract is unchanged from the pinned end-to-end
    test: a JPEG re-encode of an already-accepted PNG arriving in a
    later batch is rejected by the cosine index; the index must be
    cold-started with dims=out_dim.  A deployment with a real vision
    encoder swaps the feature step (pass its own batch_transform to
    curate_vector_stream directly) and keeps this loop's machinery."""
    from cloudfabric_eventsourcing_spark.operators import multimodal as _mm

    def features(batch: DataFrame) -> DataFrame:
        return _mm.image_feature_vectors(
            batch, out_dim=out_dim, fake=fake, on_error="skip",
            decoder=decoder,
        )

    def bad_rows(batch: DataFrame) -> DataFrame:
        return _mm.media_decode_errors(
            batch.where(F.col("kind") == "image"), fake=fake,
            image_decoder=decoder,
        )

    return curate_vector_stream(
        stream, index_path, corpus_path, checkpoint,
        threshold=threshold, batch_transform=features,
        available_now=available_now, compact_every=compact_every,
        clusters_path=clusters_path, quarantine_path=quarantine_path,
        quarantine_transform=bad_rows if quarantine_path else None,
    )


def curate_audio_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.995,
    out_dim: int = 16,
    fake: bool = False,
    quarantine_path: Optional[str] = None,
    available_now: bool = True,
    compact_every: Optional[int] = None,
    clusters_path: Optional[str] = None,
    decoder=None,
):
    """Acoustic twin of curate_image_stream: audio_feature_vectors with
    on_error="skip" + run/epoch-keyed quarantine of undecodable WAVs.
    Same contract, same swap-in point for a real audio encoder."""
    from cloudfabric_eventsourcing_spark.operators import multimodal as _mm

    def features(batch: DataFrame) -> DataFrame:
        return _mm.audio_feature_vectors(
            batch, out_dim=out_dim, fake=fake, on_error="skip",
            decoder=decoder,
        )

    def bad_rows(batch: DataFrame) -> DataFrame:
        return _mm.media_decode_errors(
            batch.where(F.col("kind") == "audio"), fake=fake,
            audio_decoder=decoder,
        )

    return curate_vector_stream(
        stream, index_path, corpus_path, checkpoint,
        threshold=threshold, batch_transform=features,
        available_now=available_now, compact_every=compact_every,
        clusters_path=clusters_path, quarantine_path=quarantine_path,
        quarantine_transform=bad_rows if quarantine_path else None,
    )


def curate_video_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float = 0.995,
    out_dim: int = 16,
    every_n: int = 1,
    fake: bool = False,
    quarantine_path: Optional[str] = None,
    available_now: bool = True,
    compact_every: Optional[int] = None,
    clusters_path: Optional[str] = None,
    decoder=None,
):
    """Video twin of curate_image_stream, completing the modality
    triangle: video_feature_vectors (demux AVI/MP4 Motion-JPEG or an
    injected ``decoder=``, per-frame histograms mean-pooled per video)
    with on_error="skip" + run/epoch-keyed quarantine of undemuxable
    containers.  Same contract, same swap-in point for a real video
    encoder.  Note the skip policy covers BOTH failure points: a
    corrupt container drops at demux, a corrupt embedded frame drops at
    the image step — either way the batch survives and the quarantine
    report names the container."""
    from cloudfabric_eventsourcing_spark.operators import multimodal as _mm

    def features(batch: DataFrame) -> DataFrame:
        return _mm.video_feature_vectors(
            batch, out_dim=out_dim, every_n=every_n, fake=fake,
            on_error="skip", decoder=decoder,
        )

    def bad_rows(batch: DataFrame) -> DataFrame:
        return _mm.media_decode_errors(
            batch.where(F.col("kind") == "video"), fake=fake,
            video_decoder=decoder,
        )

    return curate_vector_stream(
        stream, index_path, corpus_path, checkpoint,
        threshold=threshold, batch_transform=features,
        available_now=available_now, compact_every=compact_every,
        clusters_path=clusters_path, quarantine_path=quarantine_path,
        quarantine_transform=bad_rows if quarantine_path else None,
    )


def vector_index_corpus_divergence(
    spark,
    index_path: str,
    corpus_path: str,
    id_col: str = "vec_id",
    id_type: str = "long",
) -> DataFrame:
    """Embedding twin of index_corpus_divergence: ids present in the
    cosine index but absent from the corpus (the externally-lost-epoch
    detector).  One column-pruned scan of the index's id column, one of
    the corpus id column, a distinct per side, one anti-join.

    The cold-index empty frame is typed from the CORPUS's id column when
    the corpus is readable, else from `id_type` (default long, matching
    the populated branch in every pipeline here) — r8 advice: a
    hardcoded string type made the two branches union-incompatible for
    callers with non-string ids."""
    try:
        index_ids = (
            spark.read.parquet(f"{index_path}/vectors")
            .select(F.col(id_col).alias(id_col))
            .distinct()
        )
    except AnalysisException:
        # a COLD index (saved from an empty frame) has a vectors dir
        # with no data files — nothing indexed, so nothing can be
        # stranded.  (The text twin never hits this: its grams table is
        # unpartitioned, and an empty write still leaves a
        # schema-bearing file.)
        try:
            corpus_schema = spark.read.parquet(corpus_path).schema
            id_type = corpus_schema[id_col].dataType.simpleString()
        except (AnalysisException, KeyError):
            pass
        return spark.createDataFrame([], f"{id_col} {id_type}")
    try:
        corpus_ids = (
            spark.read.parquet(corpus_path).select(id_col).distinct()
        )
    except AnalysisException:
        return index_ids
    return index_ids.join(corpus_ids, id_col, "left_anti")


def close_rejected_families(
    rejected: DataFrame,
    index_path: str,
    clusters_path: str,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Periodic offline closure of the cluster index's documented scope
    limit: the streaming loop only evaluates batch-vs-batch and
    batch-vs-ACCEPTED edges, so two docs rejected in different batches
    whose similarity runs through no accepted member sit in separate
    families.  This pass runs the one-shot pair scan over the REJECTED
    set (caller-supplied: typically source anti-join corpus) and folds
    the found edges into the persisted cluster index — merging exactly
    the families the loop could not.

    Banding comes from the index meta, so closure edges are judged by
    the SAME shingling/threshold geometry as the loop's edges.  The fold
    is append_cluster_pairs, so re-running the pass is idempotent
    (duplicate edges cannot change a min-closure).  Returns its report
    ({"merges": n, "new_nodes": n}).

    Scale shape: pair cost is quadratic only within true-dup families
    of the rejected set (the minhash_lsh_pairs property); the cluster
    fold is batch-sized.  Run it on the curation loop's maintenance
    cadence, not per batch."""
    spark = rejected.sparkSession
    num_perm, bands, n = _dedup._read_minhash_meta(spark, index_path)
    pairs = _dedup.minhash_lsh_pairs(
        rejected, threshold=threshold, num_perm=num_perm, bands=bands, n=n,
        text_col=text_col, id_col=id_col,
    )
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    from cloudfabric_eventsourcing_spark.operators.graph import (
        append_cluster_pairs,
    )

    return append_cluster_pairs(spark, clusters_path, edges)


def close_rejected_vector_families(
    rejected: DataFrame,
    index_path: str,
    clusters_path: str,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Embedding twin of close_rejected_families: cosine-LSH pair scan
    over the rejected vector set under the index's pinned (dims, bits,
    seed), folded into the cluster index."""
    spark = rejected.sparkSession
    dims, bits, seed = _dedup._read_cosine_meta(spark, index_path)
    pairs = _dedup.cosine_neardup_pairs_lsh(
        rejected, threshold=threshold, dims=dims, bits=bits, seed=seed,
        vec_col=vec_col, id_col=id_col,
    )
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    from cloudfabric_eventsourcing_spark.operators.graph import (
        append_cluster_pairs,
    )

    return append_cluster_pairs(spark, clusters_path, edges)


def curate_hamming_batch_against_index(
    batch: DataFrame,
    index_path: str,
    max_hamming: int = 2,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    return_edges: bool = False,
):
    """Fingerprint twin of curate_vector_batch_against_index: one
    micro-batch's surviving rows after intra-batch Hamming near-dup
    collapse (dedup.hamming_neardup_pairs) and a probe of the persisted
    Hamming index (dedup.save_hamming_index).  The probe runs
    ``include_same_id=True`` for the same content-keyed idempotence:
    a redelivered row bands identically, finds its own index row, and
    rejects itself."""
    pairs = _dedup.hamming_neardup_pairs(
        batch, hash_col=hash_col, id_col=id_col, max_hamming=max_hamming
    )
    if return_edges:
        pairs = pairs.localCheckpoint(eager=True)
    kept = _dedup.lsh_dedup_representatives(pairs, batch, id_col=id_col)
    cross = _dedup.hamming_dedup_against_index(
        kept, index_path, max_hamming=max_hamming,
        hash_col=hash_col, id_col=id_col, include_same_id=True,
    )
    if return_edges:
        cross = cross.localCheckpoint(eager=True)
    dup_ids = cross.select(F.col("new_id").alias(id_col)).distinct()
    accepted = kept.join(dup_ids, id_col, "left_anti")
    if not return_edges:
        return accepted
    edges = pairs.select("id_a", "id_b").unionByName(
        cross.where(F.col("new_id") != F.col("index_id")).select(
            F.col("new_id").alias("id_a"), F.col("index_id").alias("id_b")
        )
    )
    return accepted, edges


def curate_hamming_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    max_hamming: int = 2,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    batch_transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    available_now: bool = True,
    compact_every: Optional[int] = None,
    clusters_path: Optional[str] = None,
    quarantine_path: Optional[str] = None,
    quarantine_transform: Optional[Callable[[DataFrame], DataFrame]] = None,
):
    """Streaming curation for the FINGERPRINT modality (64-bit SimHash
    / image dHash) — the third leg beside curate_stream (MinHash) and
    curate_vector_stream (cosine), sharing the skeleton and the entire
    delivery/crash contract: intra-batch Hamming dedup → persisted
    Hamming-index probe → run/epoch never-shrink corpus write → index
    append → compaction cadence (the bands dirs are a first-class
    compact_index dataset).

    Scale shape per batch: the batch's banded rows broadcast into ONE
    hash join against the index's band partitions; the append writes
    only accepted rows' band rows; nothing corpus-sized shuffles.  The
    8-byte-per-band payload makes this the cheapest probe of the three
    — the right loop when a perceptual hash is the dedup signal and no
    embedding model is in the path."""
    commit.require_marker(stream.sparkSession, index_path)

    def probe(batch: DataFrame, return_edges: bool):
        return curate_hamming_batch_against_index(
            batch, index_path, max_hamming=max_hamming,
            hash_col=hash_col, id_col=id_col, return_edges=return_edges,
        )

    def append(accepted: DataFrame) -> None:
        _dedup.save_hamming_index(
            accepted.select(id_col, hash_col), index_path,
            hash_col=hash_col, id_col=id_col, mode="append",
        )

    return _run_curation_stream(
        stream, index_path, corpus_path, checkpoint, id_col,
        probe, append, batch_transform, available_now,
        compact_every, clusters_path, quarantine_path,
        quarantine_transform,
    )


def curate_image_dhash_stream(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint: str,
    max_hamming: int = 2,
    quarantine_path: Optional[str] = None,
    available_now: bool = True,
    compact_every: Optional[int] = None,
    clusters_path: Optional[str] = None,
    decoder=None,
):
    """Perceptual-hash image curation loop: curate_hamming_stream with
    batch_transform = multimodal.image_dhash(on_error="skip") and the
    same run/epoch-keyed quarantine of undecodable blobs as
    curate_image_stream.  Complements the histogram/cosine image loop:
    dHash catches layout twins under global tone shifts the histogram
    path misses, at 8 bytes per image instead of a float vector."""
    from cloudfabric_eventsourcing_spark.operators import multimodal as _mm

    def hashes(batch: DataFrame) -> DataFrame:
        return _mm.image_dhash(batch, on_error="skip", decoder=decoder)

    def bad_rows(batch: DataFrame) -> DataFrame:
        return _mm.media_decode_errors(
            batch.where(F.col("kind") == "image"), image_decoder=decoder
        )

    return curate_hamming_stream(
        stream, index_path, corpus_path, checkpoint,
        max_hamming=max_hamming, hash_col="dhash", id_col="media_id",
        batch_transform=hashes, available_now=available_now,
        compact_every=compact_every, clusters_path=clusters_path,
        quarantine_path=quarantine_path,
        quarantine_transform=bad_rows if quarantine_path else None,
    )
