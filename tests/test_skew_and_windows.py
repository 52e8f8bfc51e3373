"""Skew mitigation (salted join / two-phase agg) and watermarked windowed
aggregation over the event stream (T4 extension; late-data drop semantics
replacing the reference's replay-cursor anomaly T3)."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark.eventstore import ParquetEventStore
from cloudfabric_eventsourcing_spark.eventstore.event import Event
from cloudfabric_eventsourcing_spark.operators import skew
from cloudfabric_eventsourcing_spark.streaming.windows import (
    drain_windowed_counts,
    windowed_counts,
)


@pytest.fixture
def skewed(spark):
    # one hot key holds 90% of the big side
    big = spark.createDataFrame(
        [Row(k="hot" if i % 10 else f"k{i % 7}", v=i) for i in range(3000)]
    )
    small = spark.createDataFrame(
        [Row(k="hot", w=1.5)] + [Row(k=f"k{i}", w=float(i)) for i in range(7)]
    )
    return big, small


def test_salted_join_equals_plain_join(spark, skewed):
    big, small = skewed
    for how in ("inner", "left"):
        plain = sorted(
            tuple(r) for r in big.join(small, ["k"], how).select("k", "v", "w").collect()
        )
        salted = sorted(
            tuple(r)
            for r in skew.salted_join(big, small, ["k"], salt_buckets=8, how=how)
            .select("k", "v", "w")
            .collect()
        )
        assert salted == plain, how


def test_salted_join_spreads_hot_key(spark, skewed):
    big, small = skewed
    # the hot key occupies salt_buckets distinct join keys after salting
    salted = big.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)).cast("int")
    )
    n_subkeys = (
        salted.where(F.col("k") == "hot").select("__salt").distinct().count()
    )
    assert n_subkeys == 8


def test_salted_agg_equals_plain_agg(spark, skewed):
    big, _ = skewed
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in big.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    two_phase = {
        r["k"]: (r["n"], r["sum_v"])
        for r in skew.salted_agg_sum_count(big, ["k"], sum_cols=["v"]).collect()
    }
    assert two_phase == plain


def _ev(ts: datetime.datetime) -> Event:
    return Event(
        aggregate_id="agg-1", partition_key="pk", timestamp=ts, aggregate_type="T"
    )


def test_watermark_finalizes_windows_and_drops_late_events(spark, tmp_path):
    store = ParquetEventStore(str(tmp_path / "events"))
    store.initialize()
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)

    emitted: list[tuple] = []

    def sink(batch_df, _epoch):
        emitted.extend(
            (r["window_start"], r["window_end"], r["event_type"], r["n"])
            for r in batch_df.collect()
        )

    # three events inside [10:00, 11:00) + one at 12:05 that advances the
    # watermark past 11:00 (12:05 - 10min = 11:55)
    mins = [5, 10, 20]
    store.append_to_stream(
        {}, "s1", 0, [_ev(base + datetime.timedelta(minutes=m)) for m in mins]
    )
    store.append_to_stream(
        {}, "s1", 3, [_ev(base + datetime.timedelta(minutes=125))]
    )
    ckpt = str(tmp_path / "ckpt")
    drain_windowed_counts(spark, store, ckpt, sink, watermark="10 minutes")

    # a late event at 10:30 — older than the checkpointed watermark (11:55),
    # must be DROPPED (bounded state), never resurrecting the closed window
    store.append_to_stream(
        {}, "s1", 4, [_ev(base + datetime.timedelta(minutes=30))]
    )
    drain_windowed_counts(spark, store, ckpt, sink, watermark="10 minutes")
    # one more on-time event forces another batch so anything pending emits
    store.append_to_stream(
        {}, "s1", 5, [_ev(base + datetime.timedelta(minutes=130))]
    )
    drain_windowed_counts(spark, store, ckpt, sink, watermark="10 minutes")

    first_window = [e for e in emitted if e[0] == base]
    # emitted exactly once, with the pre-late-event count: the 10:30
    # straggler was dropped by the watermark
    assert first_window == [
        (base, base + datetime.timedelta(hours=1), "Event", 3)
    ]
    # the 12:00 window is still open (watermark hasn't passed 13:00)
    assert not any(e[0] == base + datetime.timedelta(hours=2) for e in emitted)


def test_windowed_counts_batch_mode_matches_manual(spark, sf_dir):
    from cloudfabric_eventsourcing_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in windowed_counts(
            events, ts_col="ts", window="1 hour", group_cols=("event_type",)
        ).collect()
    }
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_streaming_curation_dedups_across_batches(spark, tmp_path):
    """Streaming incremental curation: each batch dedups against the
    corpus index AND the index grows with accepted docs, so a later
    batch cannot re-accept an earlier batch's document."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated corpus document about spark plans"),
        ],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    corpus_out = str(tmp_path / "accepted")
    dedup.save_minhash_index(corpus, index_path)

    src = tmp_path / "incoming"
    src.mkdir()
    # batch a: one dup of corpus doc 1, one novel doc
    spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "a genuinely novel document about training shards"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "a"))
    # batch b: a copy of batch a's ACCEPTED doc (11) — must be rejected
    # because the index grew — plus one more novel doc, plus an
    # intra-batch duplicate pair (20/21) that must collapse to min id
    spark.createDataFrame(
        [
            (12, "a genuinely novel document about training shards"),
            (13, "another fresh document mentioning catalyst optimizer"),
            (20, "twin texts born in the same micro batch right here"),
            (21, "twin texts born in the same micro batch right here"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "b"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # one dir per micro-batch
        .parquet(f"{src}/*")
    )
    q = curate_stream(
        stream, index_path, corpus_out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    accepted = {
        r["doc_id"] for r in spark.read.parquet(corpus_out).collect()
    }
    # 10 dups corpus; 12 dups batch-a's accepted 11; 21 collapses to 20
    assert accepted == {11, 13, 20}
    # the grown index now rejects a re-send of every accepted doc
    resend = spark.createDataFrame(
        [(30, "another fresh document mentioning catalyst optimizer")],
        ["doc_id", "text"],
    )
    hits = dedup.dedup_against_index(resend, index_path).collect()
    assert {r["index_id"] for r in hits} == {13}


@pytest.mark.slow
def test_curation_cold_start_from_empty_index(spark, tmp_path):
    """A brand-new pipeline has NO corpus yet: an index saved from an
    empty DataFrame must be probe-able (r8 find: the empty partitionBy
    write leaves no data files, so the probe read needs the explicit
    banded schema instead of inference).  First batch of a stream over
    an empty index is accepted in full and grows the index."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    index_path = str(tmp_path / "index")
    empty = spark.createDataFrame([], "doc_id long, text string")
    dedup.save_minhash_index(empty, index_path, num_perm=32, bands=8)

    # direct probe against the empty index: no candidates, no error
    batch = spark.createDataFrame(
        [(1, "a first ever document for a cold started corpus")],
        ["doc_id", "text"],
    )
    assert dedup.dedup_against_index(batch, index_path).count() == 0

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [
            (1, "a first ever document for a cold started corpus"),
            (2, "a second unrelated document about catalyst planning"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "a"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    corpus_out = str(tmp_path / "accepted")
    q = curate_stream(stream, index_path, corpus_out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    accepted = {r["doc_id"] for r in spark.read.parquet(corpus_out).collect()}
    assert accepted == {1, 2}
    # the grown index rejects a re-send
    resend = spark.createDataFrame(
        [(9, "a first ever document for a cold started corpus")],
        ["doc_id", "text"],
    )
    hits = dedup.dedup_against_index(resend, index_path).collect()
    assert {r["index_id"] for r in hits} == {1}


def test_cosine_index_cold_start_from_empty(spark, tmp_path):
    """save_cosine_index over an empty frame must yield a probe-able
    index (same empty-partitionBy pathology as the MinHash index)."""
    from cloudfabric_eventsourcing_spark.operators import dedup

    path = str(tmp_path / "cidx")
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    dedup.save_cosine_index(empty, path, dims=4, bits=4)
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert dedup.cosine_dedup_against_index(batch, path, 0.9).count() == 0
    dedup.save_cosine_index(batch, path, dims=4, bits=4, mode="append")
    probe = spark.createDataFrame(
        [(2, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    hits = dedup.cosine_dedup_against_index(probe, path, 0.9).collect()
    assert {r["index_id"] for r in hits} == {1}


@pytest.mark.slow
def test_streaming_curation_maintains_cluster_index(spark, tmp_path):
    """curate_stream(clusters_path=...): duplicate families maintained
    ONLINE — rejected docs keep provenance (same component as what
    rejected them), intra-batch twins cluster, cross-batch dup chains
    connect through the accepted member, and the persisted labels match
    what the batch operator computes over the same evaluated edges."""
    from cloudfabric_eventsourcing_spark.operators import dedup, graph
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    corpus_out = str(tmp_path / "accepted")
    clusters = str(tmp_path / "clusters")
    dedup.save_minhash_index(corpus, index_path)

    src = tmp_path / "incoming"
    src.mkdir()
    # batch a: dup of corpus doc 1; novel doc 11
    spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "a genuinely novel document about training shards"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "a"))
    # batch b: dup of 11 (cross-batch chain 11-12), intra-batch twins
    # 20/21, and a batch that ALSO extends family {1,10} via 14
    spark.createDataFrame(
        [
            (12, "a genuinely novel document about training shards"),
            (14, "the quick brown fox jumps over the lazy dog today"),
            (20, "twin texts born in the same micro batch right here"),
            (21, "twin texts born in the same micro batch right here"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "b"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = curate_stream(
        stream, index_path, corpus_out, str(tmp_path / "ckpt"),
        clusters_path=clusters,
        compact_every=1,  # exercises the cluster-journal cadence too
    )
    q.awaitTermination(120)
    import os
    assert not os.path.exists(f"{clusters}/remap")  # journal folded

    labels = {
        r["node"]: r["component"]
        for r in graph.load_cluster_labels(spark, clusters).collect()
    }
    # family {1,10,14}: rejected docs share the corpus doc's component
    assert labels[10] == labels[1] == labels[14] == 1
    # cross-batch chain: 12 rejected as dup of accepted 11
    assert labels[12] == labels[11] == 11
    # intra-batch twins: 21 collapses onto 20
    assert labels[21] == labels[20] == 20
    # compaction preserves the streamed labels
    graph.compact_cluster_index(spark, clusters)
    after = {
        r["node"]: r["component"]
        for r in graph.load_cluster_labels(spark, clusters).collect()
    }
    assert after == labels


@pytest.mark.slow
def test_streaming_curation_reingest_is_self_healing(spark, tmp_path):
    """Delivery-semantics pin: redelivered input cannot duplicate corpus
    rows.  The guarantee is CONTENT-keyed: the acceptance probe runs
    with include_same_id=True, so a redelivered doc (same id, same
    text) finds its own committed index row and rejects itself as
    already-accepted — independent of epoch numbering or checkpoint
    identity.  Simulated as the worst case: the whole source replayed
    under a FRESH checkpoint (a fresh run segment, so the position-keyed
    overwrite cannot help), stronger than the single-batch retry the
    foreachBatch contract actually produces."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    corpus_out = str(tmp_path / "accepted")
    dedup.save_minhash_index(corpus, index_path)

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [
            (10, "a genuinely novel document about training shards"),
            (11, "another fresh document mentioning catalyst optimizer"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "a"))

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = curate_stream(stream, index_path, corpus_out, str(tmp_path / ckpt))
        q.awaitTermination(120)

    run("ckpt1")
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_out).collect()
    )
    assert first == [10, 11]
    run("ckpt2")  # full redelivery: fresh checkpoint, same source
    second = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_out).collect()
    )
    # the corpus did not grow: every replayed doc matched its own index
    # row and was rejected as already-accepted
    assert second == first


@pytest.mark.slow
def test_streaming_curation_checkpoint_reset_preserves_old_runs(
    spark, tmp_path
):
    """A stream restarted with a FRESH checkpoint over NEW input must
    not clobber an earlier run's corpus data: epoch ids are only unique
    per checkpoint, and both runs here produce an epoch 0.  The corpus
    write is run-scoped (run=<query id>/epoch=<n>), so the second run's
    epoch 0 lands beside — not over — the first run's."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    corpus_out = str(tmp_path / "accepted")
    dedup.save_minhash_index(corpus, index_path)

    def run(src_name, docs, ckpt):
        src = tmp_path / src_name
        src.mkdir()
        spark.createDataFrame(docs, ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(str(src / "a"))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = curate_stream(
            stream, index_path, corpus_out, str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    # run 1: ingest docs 10/11, checkpoint A (epoch 0)
    run(
        "in1",
        [
            (10, "a genuinely novel document about training shards"),
            (11, "another fresh document mentioning catalyst optimizer"),
        ],
        "ckptA",
    )
    # the retention scenario: source files rotate away, checkpoint is
    # lost, NEW docs arrive — the new run's epochs restart at 0
    run(
        "in2",
        [(12, "third novel text on adaptive query execution planning")],
        "ckptB",
    )
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_out).collect()
    )
    # run 1's docs survive run 2's epoch-0 write
    assert accepted == [10, 11, 12]


@pytest.mark.slow
def test_streaming_curation_auto_compaction_bounds_files(spark, tmp_path):
    """curate_stream(compact_every=1): a long-running ingest must not
    accumulate one index fragment per batch per band partition — the
    maintenance hook folds them, and acceptance decisions are unchanged
    (same accepted set as the uncompacted sibling test shape)."""
    import glob
    import os

    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    dedup.save_minhash_index(corpus, index_path)

    src = tmp_path / "incoming"
    src.mkdir()
    texts = {
        10: "a genuinely novel document about training shards",
        11: "another fresh document mentioning catalyst optimizer",
        12: "third novel text on adaptive query execution planning",
    }
    for i, (did, txt) in enumerate(texts.items()):
        spark.createDataFrame([(did, txt)], ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # one dir per micro-batch
        .parquet(f"{src}/*")
    )
    q = curate_stream(
        stream, index_path, str(tmp_path / "accepted"),
        str(tmp_path / "ckpt"), compact_every=1,
    )
    q.awaitTermination(120)

    accepted = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "accepted")).collect()
    }
    assert accepted == set(texts)
    # every band partition folded to one file despite 3 appends (vs 4
    # fragments — initial save + one per accepted batch — without the hook)
    band_dirs = [
        d
        for d in glob.glob(os.path.join(index_path, "bands", "*"))
        if os.path.isdir(d)
    ]
    assert band_dirs
    for d in band_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    # the compacted index still rejects a re-send of an accepted doc
    resend = spark.createDataFrame(
        [(30, texts[11])], ["doc_id", "text"]
    )
    hits = dedup.dedup_against_index(resend, index_path).collect()
    assert {r["index_id"] for r in hits} == {11}


@pytest.mark.slow
def test_streaming_curation_partial_index_commit_never_shrinks_epoch(
    spark, tmp_path
):
    """The asymmetric crash the epoch overwrite must survive: a batch's
    corpus write committed, but the index append only half-landed (doc
    10's band rows present, doc 11's absent — grams are written before
    bands, so a mid-append crash leaves exactly this state).  On replay
    10 self-rejects (content key) while 11 is re-accepted; a naive
    epoch overwrite would then replace {10, 11} with {11}, stranding 10
    in the index forever but never in the corpus.  The never-shrink
    union keeps both."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    corpus_out = str(tmp_path / "accepted")
    dedup.save_minhash_index(corpus, index_path)

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [
            (10, "a genuinely novel document about training shards"),
            (11, "another fresh document mentioning catalyst optimizer"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "a"))

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = curate_stream(stream, index_path, corpus_out, ckpt)
        q.awaitTermination(120)

    ckpt = str(tmp_path / "ckpt")
    run(ckpt)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_out).collect()
    ) == [10, 11]

    # simulate the partial index append: doc 11's BAND rows vanish (its
    # grams stay — harmless orphans), so the replayed 11 finds no
    # candidate match and is re-accepted
    bands_dir = f"{index_path}/bands"
    kept = (
        spark.read.parquet(bands_dir)
        .where(F.col("id") != 11)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(bands_dir)
    kept.write.partitionBy("bi").parquet(bands_dir)

    # force the committed epoch to replay under the SAME checkpoint
    # (same run id, same epoch id): offsets/0 present, commits/0 gone
    os.unlink(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    run(ckpt)
    # 10 was NOT dropped even though it self-rejected on replay
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_out).collect()
    ) == [10, 11]


def test_epoch_swap_never_exposes_empty_dir(spark, tmp_path, caplog):
    """The epoch-union rewrite goes through a tmp-sibling + rename swap
    (r6 advice): a naive mode('overwrite') deletes the epoch dir before
    the new files commit, so a crash inside that window loses the prior
    attempt's committed rows — and on the next replay those docs
    self-reject against the index while absent from the corpus (the
    stranded-doc failure).  Pin the swap itself and both crash-window
    recoveries, each of which logs one WARNING (a clean state logs
    none)."""
    import logging
    import os

    from cloudfabric_eventsourcing_spark import commit

    epoch = str(tmp_path / "corpus" / "run=r1" / "epoch=0")
    tmp_dir, old_dir = commit._swap_siblings(epoch)

    def rows(*ids):
        return spark.createDataFrame([(i, f"doc {i}") for i in ids],
                                     ["doc_id", "text"])

    def read_ids():
        return sorted(r["doc_id"] for r in spark.read.parquet(epoch).collect())

    def recover_logged():
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger=commit.__name__):
            commit.recover_swap_dir(spark, epoch)
        return [r.message for r in caplog.records if r.name == commit.__name__]

    # normal swap: contents replaced, no sibling debris
    rows(10).write.parquet(epoch)
    assert recover_logged() == []
    commit.swap_dir(spark, epoch, rows(10, 11))
    assert read_ids() == [10, 11]
    assert not os.path.exists(tmp_dir) and not os.path.exists(old_dir)
    assert recover_logged() == []

    # crash BETWEEN the renames: epoch moved aside, committed union in
    # tmp — recovery rolls the swap forward
    rows(10, 11, 12).write.parquet(tmp_dir)
    open(f"{tmp_dir}/{commit._COMMITTED}", "w").close()
    os.rename(epoch, old_dir)
    (msg,) = recover_logged()
    assert "rolled forward" in msg
    assert read_ids() == [10, 11, 12]
    assert not os.path.exists(tmp_dir) and not os.path.exists(old_dir)

    # crash MID-tmp-write (no _COMMITTED) after epoch moved aside —
    # recovery rolls back to the original
    rows(99).write.parquet(tmp_dir)  # incomplete attempt: no marker
    os.rename(epoch, old_dir)
    (msg,) = recover_logged()
    assert "rolled back" in msg
    assert read_ids() == [10, 11, 12]
    assert not os.path.exists(tmp_dir) and not os.path.exists(old_dir)

    # crash after tmp commit but BEFORE the first rename: epoch intact,
    # committed tmp is debris (the replay re-unions) — swept
    rows(1, 2).write.parquet(tmp_dir)
    open(f"{tmp_dir}/{commit._COMMITTED}", "w").close()
    (msg,) = recover_logged()
    assert "removed leftover" in msg
    assert read_ids() == [10, 11, 12]
    assert not os.path.exists(tmp_dir)


@pytest.mark.slow
def test_streaming_curation_rejects_legacy_flat_corpus(spark, tmp_path):
    """A corpus dir holding root-level parquet from the pre-run/epoch
    flat-append layout must fail fast: mixed-depth leaf files break
    Spark's partition discovery, and continuing would strand the legacy
    rows outside the run=/epoch= lineage."""
    import pytest

    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    dedup.save_minhash_index(corpus, index_path)
    corpus_out = str(tmp_path / "accepted")
    # legacy layout: data files directly at the corpus root
    corpus.coalesce(1).write.parquet(corpus_out)

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(10, "a genuinely novel document about training shards")],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "a"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(f"{src}/*")
    )
    with pytest.raises(ValueError, match="run=legacy"):
        curate_stream(stream, index_path, corpus_out, str(tmp_path / "ck"))


@pytest.mark.slow
def test_deduped_stream_drops_replayed_events(spark, tmp_path):
    """At-least-once source + dropDuplicatesWithinWatermark = exactly-once
    delivery with bounded state (T3's streaming counterpart)."""
    import datetime

    from cloudfabric_eventsourcing_spark.streaming.windows import deduped_stream

    src_dir = tmp_path / "dup_events"
    src_dir.mkdir()
    base = datetime.datetime(2024, 1, 1)
    # timestamps within a few seconds: nothing is "late" relative to the
    # 5-minute watermark, so drops can only come from id-dedup state
    rows = [(f"e{i}", base + datetime.timedelta(seconds=i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id string, created_at timestamp")
    # the same batch written twice = a redelivered source
    df.write.mode("append").parquet(str(src_dir / "a"))
    df.write.mode("append").parquet(str(src_dir / "b"))

    stream = (
        spark.readStream.schema("id string, created_at timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*")
    )
    out = deduped_stream(stream, id_cols=("id",), watermark="5 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r["id"] for r in spark.sql("SELECT id FROM dedup_out").collect()]
    assert sorted(got) == sorted(f"e{i}" for i in range(10))
    assert len(got) == 10  # duplicates dropped despite double delivery

    # batch mode degrades to plain dropDuplicates
    batch = spark.read.parquet(f"{src_dir}/*")
    assert deduped_stream(batch, id_cols=("id",)).count() == 10


def test_native_session_window_equals_lag_sessionization(spark, sf_dir):
    """Differential: F.session_window (native gap-merge) must produce the
    same sessions as the lag+cumsum operator (x02's engine path)."""
    from cloudfabric_eventsourcing_spark.operators.temporal import session_stats
    from cloudfabric_eventsourcing_spark.sources import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    ours = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_stats(events, key="user_id", ts="ts", gap_minutes=60)
        .collect()
    }
    native = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in events.groupBy(F.session_window("ts", "60 minutes"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert ours == native and len(ours) > 0


def test_session_gap_boundary_tie_matches_native(spark):
    """An event EXACTLY gap after its predecessor stays IN-SESSION in
    F.session_window (windows [ts, ts+gap] merge on touch — verified here
    empirically); the lag+cumsum operator must keep the same strict->
    split semantics."""
    from cloudfabric_eventsourcing_spark.operators.temporal import session_stats

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(user_id=1, ts=t0),
        Row(user_id=1, ts=t0 + datetime.timedelta(minutes=60)),  # exact tie
        Row(user_id=1, ts=t0 + datetime.timedelta(minutes=119, seconds=59)),
    ]
    df = spark.createDataFrame(rows)
    ours = sorted(
        (r["session_start"], r["n_events"])
        for r in session_stats(df, key="user_id", ts="ts", gap_minutes=60).collect()
    )
    native = sorted(
        (r["session_start"], r["n_events"])
        for r in df.groupBy(F.session_window("ts", "60 minutes"), "user_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert ours == native
    # the tie MERGES: one session holding all three events
    assert [n for _, n in ours] == [3]


def test_session_window_streaming_with_watermark(spark, tmp_path):
    """T4 stream path: the SAME F.session_window aggregation runs as a
    watermarked Structured Streaming query (availableNow drain) and matches
    the batch result."""
    src = str(tmp_path / "sessions_src")
    t0 = datetime.datetime(2024, 3, 1, 8, 0, 0)
    rows = [
        Row(user_id=u, ts=t0 + datetime.timedelta(minutes=m))
        for u in (1, 2)
        for m in (0, 10, 90, 95, 300)
    ]
    batch_df = spark.createDataFrame(rows)
    batch_df.write.mode("overwrite").parquet(src)

    def sessions(df):
        return (
            df.groupBy(F.session_window("ts", "60 minutes"), "user_id").agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
            )
        ).select("user_id", "session_start", "session_end", "n_events")

    stream = (
        spark.readStream.schema(batch_df.schema)
        .parquet(src)
        .withWatermark("ts", "2 hours")
    )
    q = (
        sessions(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r) for r in spark.sql(
            "SELECT user_id, session_start, session_end, n_events FROM sess_out"
        ).collect()
    }
    want = {tuple(r) for r in sessions(spark.read.parquet(src)).collect()}
    assert got == want and len(want) == 6  # 3 sessions per user


def test_interval_join_stream_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join: clicks joined to purchases within
    30 minutes per user, drained with availableNow, equals the batch
    join of the same data."""
    from cloudfabric_eventsourcing_spark.streaming.joins import interval_join

    t0 = datetime.datetime(2024, 3, 1, 8, 0, 0)
    clicks = [
        Row(user_id=u, click_ts=t0 + datetime.timedelta(minutes=m))
        for u in (1, 2)
        for m in (0, 40, 200)
    ]
    buys = [
        Row(user_id=u, buy_ts=t0 + datetime.timedelta(minutes=m), amount=float(m))
        for u in (1, 2)
        for m in (10, 55, 500)
    ]
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    cdf = spark.createDataFrame(clicks)
    bdf = spark.createDataFrame(buys)
    cdf.write.mode("overwrite").parquet(cdir)
    bdf.write.mode("overwrite").parquet(bdir)

    def join(l, r):
        return interval_join(
            l, r, ["user_id"], "click_ts", "buy_ts",
            lower="0 seconds", upper="30 minutes", watermark="1 hour",
        ).select("user_id", "click_ts", "buy_ts", "amount")

    want = {tuple(r) for r in join(cdf, bdf).collect()}
    # click@0 pairs with buy@10; click@40 with buy@55; click@200 and
    # buy@500 pair with nothing
    assert len(want) == 4

    cs = spark.readStream.schema(cdf.schema).parquet(cdir)
    bs = spark.readStream.schema(bdf.schema).parquet(bdir)
    q = (
        join(cs, bs)
        .writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ij_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, click_ts, buy_ts, amount FROM ij_out"
        ).collect()
    }
    assert got == want


@pytest.mark.slow
def test_index_corpus_divergence_detects_stranded_docs(spark, tmp_path):
    """The stranded-document detector: ids in the index but missing from
    the corpus (external loss of a committed epoch's files) are
    reported; a healthy pipeline reports none."""
    import glob
    import os

    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
        index_corpus_divergence,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "index")
    corpus_out = str(tmp_path / "accepted")
    dedup.save_minhash_index(corpus, index_path)

    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [
            (10, "a genuinely novel document about training shards"),
            (11, "another fresh document mentioning catalyst optimizer"),
        ],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(str(src / "a"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(f"{src}/*")
    )
    q = curate_stream(stream, index_path, corpus_out, str(tmp_path / "ck"))
    q.awaitTermination(120)

    # healthy: only the pre-seeded corpus doc (1) has no corpus row —
    # it was indexed directly, never ingested through the stream
    div = {
        r["doc_id"]
        for r in index_corpus_divergence(spark, index_path, corpus_out).collect()
    }
    assert div == {1}

    # external loss of the committed epoch's files strands 10 and 11
    for f in glob.glob(f"{corpus_out}/run=*/epoch=0/*"):
        os.remove(f)
    div = {
        r["doc_id"]
        for r in index_corpus_divergence(spark, index_path, corpus_out).collect()
    }
    assert div == {1, 10, 11}


@pytest.mark.slow
def test_streaming_curation_with_learned_quality_gate(spark, tmp_path):
    """Cookbook (r9 verdict ask #6): the r9 learned quality classifier
    composed into the streaming curation loop the way the media
    modalities are — train OFFLINE, gate each micro-batch with
    score_quality + pareto_quality_filter via batch_transform, account
    for gated-out rows via the quarantine side channel, and verify the
    accepted corpus equals the same gate+dedup computed offline, plus
    fresh-checkpoint replay idempotence."""
    from cloudfabric_eventsourcing_spark.operators import classify, dedup
    from cloudfabric_eventsourcing_spark.streaming.curation import (
        curate_stream,
    )

    fluent = [
        "the training pipeline reads parquet shards and writes packed "
        "token sequences for the next model run",
        "catalyst pushes the filter below the join so the scan prunes "
        "partitions before any shuffle happens",
        "a broadcast hash join avoids shuffling the large fact table "
        "when the dimension side is small",
        "watermarks bound how long the engine waits for late events "
        "before closing a window",
        "the optimizer folds constants and prunes unused columns from "
        "the physical scan",
        "executors spill to disk when a partition no longer fits in "
        "memory during aggregation",
        "deterministic sampling keeps experiment runs reproducible "
        "across cluster sizes",
        "the scheduler assigns tasks to executors based on data "
        "locality and available slots",
    ]
    gibberish = [
        "zq zq zq vxk vxk pfff grmbl xxs",
        "qqq www zzz qqq www zzz qqq www",
        "kx jv qz wx bb nn mm kk jj hh",
        "aaaa bbbb zzzz qqqq xxxx wwww",
        "zzz kqx vvv jjj qqq xxx pppp",
        "xz xz xz xz qv qv qv qv zz zz",
        "grk grk blt blt zzz zzz qqx qqx",
        "wqz wqz wqz nbv nbv nbv zzz zzz",
    ]
    model = classify.train_quality_classifier(
        spark.createDataFrame([(t,) for t in fluent], "text string"),
        spark.createDataFrame([(t,) for t in gibberish], "text string"),
        num_features=1 << 12,
    )

    def gate(batch):
        return classify.pareto_quality_filter(
            classify.score_quality(batch, model),
            id_col="doc_id", salt="gate",
        ).drop(classify.QUALITY_COL)

    corpus = spark.createDataFrame(
        [(1, fluent[0] + " extra corpus tail")], ["doc_id", "text"]
    )
    index_path = str(tmp_path / "index")
    corpus_out = str(tmp_path / "accepted")
    quarantine = str(tmp_path / "gated_out")
    dedup.save_minhash_index(corpus, index_path)

    src = tmp_path / "incoming"
    src.mkdir()
    batch_a = [
        (10, fluent[1]),            # fluent, novel -> accept
        (11, gibberish[0]),         # gibberish -> gate drop
        (12, fluent[2]),            # fluent, novel -> accept
    ]
    batch_b = [
        (13, fluent[1]),            # fluent but dup of accepted 10 -> reject
        (14, fluent[3]),            # fluent, novel -> accept
        (15, gibberish[1]),         # gibberish -> gate drop
    ]
    spark.createDataFrame(batch_a, ["doc_id", "text"]).coalesce(1)\
        .write.parquet(str(src / "a"))
    spark.createDataFrame(batch_b, ["doc_id", "text"]).coalesce(1)\
        .write.parquet(str(src / "b"))

    def run(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = curate_stream(
            stream, index_path, corpus_out, str(tmp_path / ckpt),
            batch_transform=gate,
            quarantine_path=quarantine,
            quarantine_transform=lambda raw: raw.join(
                gate(raw).select("doc_id"), "doc_id", "left_anti"
            ),
        )
        q.awaitTermination(120)

    run("ckpt1")
    accepted = {
        r["doc_id"] for r in spark.read.parquet(corpus_out).collect()
    }
    # the offline expectation: which of the planted rows pass the SAME
    # deterministic gate (hash-Pareto is bit-reproducible), then dedup
    all_rows = spark.createDataFrame(
        batch_a + batch_b, ["doc_id", "text"]
    )
    gate_pass = {r["doc_id"] for r in gate(all_rows).collect()}
    assert gate_pass == {10, 12, 13, 14}      # fluent pass, gibberish drop
    assert accepted == gate_pass - {13}       # 13 dups accepted 10
    # drop accounting: exactly the gate's drops are quarantined (13 is
    # dedup-rejected, a different channel — it passed the gate)
    gated_out = {
        r["doc_id"] for r in spark.read.parquet(quarantine).collect()
    }
    assert gated_out == {11, 15}
    # replay with a FRESH checkpoint: every previously accepted doc is
    # now in the index, so the corpus must not grow (idempotent re-run)
    n_before = spark.read.parquet(corpus_out).count()
    run("ckpt2")
    assert spark.read.parquet(corpus_out).count() == n_before
