"""Operator tests beyond the oracle harness: SimHash, LSH/IVF ANN recall,
multimodal plumbing. (Exact dedup/jaccard/minhash/cosine/text operators are
differential-tested against DuckDB in test_queries_oracle.py.)"""

import os

import pytest
from pyspark.sql import functions as F

from cloudfabric_eventsourcing_spark.operators import dedup, multimodal, similarity
from cloudfabric_eventsourcing_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ---- SimHash --------------------------------------------------------------

def test_simhash_deterministic_and_close_for_neardups(spark, docs):
    sig1 = {r["id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    sig2 = {r["id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    assert sig1 == sig2  # deterministic across runs
    assert len(sig1) == docs.count()
    # word-set-identical docs (unigram jaccard 1.0) share simhash exactly
    fp_pairs = dedup.ngram_jaccard_pairs(docs, threshold=1.0).collect()
    assert fp_pairs, "fixture should contain jaccard-1.0 pairs"
    for row in fp_pairs[:20]:
        assert sig1[row["id_a"]] == sig1[row["id_b"]]
    # DISCRIMINATION (the r10 underflow regression pin): signatures must
    # not degenerate toward all-ones/all-zeros — the uint64 vote
    # arithmetic once underflowed and set ~every bit of every signature,
    # which determinism and exact-dup checks were blind to.  Bit counts
    # hover near 32 for real text, and distinct docs must actually
    # differ in many bits.
    counts = [bin(s & (2**64 - 1)).count("1") for s in sig1.values()]
    assert all(8 <= c <= 56 for c in counts), sorted(set(counts))
    import itertools
    dists = [
        bin((a ^ b) & (2**64 - 1)).count("1")
        for a, b in itertools.combinations(list(sig1.values())[:30], 2)
    ]
    assert max(dists) >= 10, "every doc looks near-every-other"


def test_simhash_weighted_votes_follow_term_frequency(spark):
    """weighted=True is Charikar's frequency-weighted construction
    (r10 verdict #5): on a repetition-dominated document the weighted
    signature collapses to the dominant token's hash sign pattern
    (50 'spam' votes outvote 10 singleton noise tokens on every bit),
    while the unweighted default — one vote per distinct token — does
    not.  On an all-unique-token document the two modes are identical
    (distinct == multiset there), so weighted mode provably changes
    ONLY repetition behavior."""
    noise = " ".join(f"noise{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, ("spam " * 50) + noise),   # repetition-dominated
            (2, "spam"),                   # the dominant token alone
            (3, noise),                    # all-unique tokens
        ],
        "doc_id long, text string",
    )
    unw = {r["id"]: r["simhash"]
           for r in dedup.simhash_signatures(df).collect()}
    wgt = {r["id"]: r["simhash"]
           for r in dedup.simhash_signatures(df, weighted=True).collect()}
    # every 'spam' bit vote carries +-50 vs 10 noise singletons: the
    # weighted signature of doc 1 IS doc 2's signature
    assert wgt[1] == wgt[2] == unw[2]
    # unweighted treats spam as one voice among 11 -> differs from spam's
    assert unw[1] != unw[2]
    # ...and the two modes agree wherever tokens are unique
    assert unw[3] == wgt[3]
    # determinism across runs holds in weighted mode too
    wgt2 = {r["id"]: r["simhash"]
            for r in dedup.simhash_signatures(df, weighted=True).collect()}
    assert wgt == wgt2


def test_simhash_candidates_cover_low_hamming(spark, docs):
    sig = dedup.simhash_signatures(docs).cache()
    cand = dedup.simhash_candidate_pairs(sig)
    # pigeonhole guarantee: every pair with hamming <= 3 is a candidate
    a, b = sig.alias("a"), sig.alias("b")
    close = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("h"),
        )
        .where(F.col("h") <= 3)
    )
    missing = close.join(cand, ["id_a", "id_b"], "left_anti")
    assert missing.count() == 0
    sig.unpersist()


# ---- ANN recall -----------------------------------------------------------

def _topk_ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_lsh_topk_recall_on_planted_neighbors(spark, emb):
    # The fixture embeddings are near-random (max pairwise cosine ~0.5), so
    # hyperplane LSH rightly finds nothing there — plant true neighbors:
    # 8 deterministic small perturbations of vec 0 appended to the table.
    query = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    dims = len(query)
    import numpy as np

    rng = np.random.RandomState(7)
    planted = [
        (100000 + i, (np.asarray(query) + rng.normal(0, 0.01, dims)).astype("float32").tolist(), -1)
        for i in range(8)
    ]
    full = emb.select("vec_id", "embedding", "label").unionByName(
        spark.createDataFrame(planted, emb.select("vec_id", "embedding", "label").schema)
    )
    exact = _topk_ids(similarity.brute_force_topk(full, query, k=9))
    assert set(exact) >= {0, *[p[0] for p in planted]}  # sanity: plants dominate
    bucketed = similarity.lsh_bucket(full, dims=dims, bits=12).cache()
    approx = set(
        _topk_ids(similarity.lsh_topk(bucketed, query, dims=dims, k=9, bits=12))
    )
    # near-identical vectors share the bucket: high recall required
    assert len(set(exact) & approx) >= 8, f"recall too low: {set(exact) & approx}"
    bucketed.unpersist()


def test_ivf_topk_recall(spark, emb):
    query = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cents = similarity.ivf_centroids_from_sample(emb, n_cells=8)
    assigned = similarity.ivf_assign(emb, cents).cache()
    # every vector lands in exactly one of the 8 cells
    cells = assigned.groupBy("cell").count().collect()
    assert sum(r["count"] for r in cells) == emb.count()
    assert all(0 <= r["cell"] < 8 for r in cells)
    exact = set(_topk_ids(similarity.brute_force_topk(emb, query, k=10)))
    approx = set(
        _topk_ids(similarity.ivf_topk(assigned, cents, query, k=10, nprobe=4))
    )
    # k-means++ init (round 2) lifted recall@10 from the first-N seeding;
    # deterministic (fixed seed + data), so these pins are stable
    assert len(exact & approx) >= 5
    # mean recall across several planted queries
    total = 0
    for qid in range(1, 6):
        q = emb.where(F.col("vec_id") == qid).select("embedding").collect()[0][0]
        ex = set(_topk_ids(similarity.brute_force_topk(emb, q, k=10)))
        ap = set(_topk_ids(similarity.ivf_topk(assigned, cents, q, k=10, nprobe=4)))
        total += len(ex & ap)
    assert total >= 30, f"mean recall too low: {total}/50"
    assigned.unpersist()


def test_lsh_dedup_representatives(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    kept = dedup.lsh_dedup_representatives(pairs, docs)
    n_docs = docs.count()
    n_dupes = pairs.select("id_b").distinct().count()
    assert kept.count() == n_docs - n_dupes
    # every removed id had a smaller partner
    removed = docs.join(kept, "doc_id", "left_anti")
    joined = removed.join(
        pairs, removed.doc_id == pairs.id_b, "left_semi"
    )
    assert joined.count() == removed.count()


# ---- multimodal plumbing --------------------------------------------------

def test_multimodal_decode_plumbing(spark, docs):
    media = multimodal.media_from_documents(docs).cache()
    images = media.where(F.col("kind") == "image")
    feats = multimodal.decode_image_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == images.count()
    for r in rows[:5]:
        assert len(r["features"]) == 16
        assert all(0.0 <= x < 1.0 for x in r["features"])
        assert r["n_bytes"] > 0
    # determinism of the fake decoder
    again = {r["media_id"]: r["features"] for r in feats.collect()}
    for r in rows[:5]:
        assert again[r["media_id"]] == r["features"]
    media.unpersist()


def test_multimodal_real_codec_rejects_non_images(spark, docs):
    """The real decode path fails LOUDLY on bytes that are not a
    decodable image (media_from_documents payloads are UTF-8 text):
    garbage in a production pipeline must surface, not hash-featurize."""
    media = multimodal.media_from_documents(docs)
    with pytest.raises(Exception) as exc_info:
        multimodal.decode_image_features(media, fake=False).collect()
    assert "not a PNG" in str(exc_info.value)


def _fixture(name):
    import os

    return os.path.join(os.path.dirname(__file__), "fixtures", name)


def test_png_codec_decodes_all_scanline_filters():
    """Spec pin on the pure-Python PNG decoder: the checked-in fixture
    was FORWARD-filtered row-by-row with every filter type (None/Sub/
    Up/Average/Paeth — an independent implementation path from the
    decoder's inverse), and decoding must reproduce the generator
    formula's exact pixels."""
    from cloudfabric_eventsourcing_spark.operators import codecs

    with open(_fixture("gradient_6x5.png"), "rb") as fh:
        data = fh.read()
    w, h, ch, pixels = codecs.decode_png(data)
    assert (w, h, ch) == (6, 5, 3)
    truth = bytes(
        v
        for y in range(5)
        for x in range(6)
        for v in ((x * 40) % 256, (y * 50) % 256, ((x + y) * 20) % 256)
    )
    assert pixels == truth
    # encode -> decode round-trip (gray, gray+alpha, RGB, RGBA)
    for channels in (1, 2, 3, 4):
        raw = bytes((i * 7 + channels) % 256 for i in range(8 * 3 * channels))
        png = codecs.encode_png(8, 3, channels, raw)
        assert codecs.decode_png(png) == (8, 3, channels, raw)
    # unsupported shapes fail loudly, never silently mis-decode
    import struct as _s
    import zlib as _z

    def chunk(ctype, payload):
        crc = _z.crc32(ctype + payload) & 0xFFFFFFFF
        return _s.pack(">I", len(payload)) + ctype + payload + _s.pack(">I", crc)

    # sub-8-bit depths still raise (16-bit decodes since r8 —
    # test_png_16bit_decodes_to_8bit)
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _s.pack(">IIBBBBB", 1, 1, 4, 0, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(b"\x00" * 2))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="bit depth"):
        codecs.decode_png(deep)


def test_multimodal_real_png_decode_resize_pipeline(spark):
    """Real image pipeline on real PNG bytes, hermetically: decode ->
    luminance-histogram features with TRUE dimensions, then resize ->
    re-encoded PNG that decodes to the requested dims.  A constant-color
    image must survive nearest-neighbor resize byte-exactly."""
    from cloudfabric_eventsourcing_spark.operators import codecs

    with open(_fixture("gradient_6x5.png"), "rb") as fh:
        gradient = fh.read()
    solid = codecs.encode_png(10, 7, 3, bytes([30, 60, 90]) * 70)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(gradient),
             {"mime": "image/png", "width": None, "height": None,
              "duration_ms": None}),
            (2, "image", bytearray(solid),
             {"mime": "image/png", "width": None, "height": None,
              "duration_ms": None}),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in
             multimodal.decode_image_features(media).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (6, 5)
    assert (feats[2]["width"], feats[2]["height"]) == (10, 7)
    for r in feats.values():
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-9  # normalized histogram
    # solid color 30/60/90 -> luminance ~54.4 lands in one bin
    assert max(feats[2]["features"]) == 1.0

    resized = {r["media_id"]: r for r in
               multimodal.resize_images(media, 4, 4).collect()}
    for mid, r in resized.items():
        w, h, ch, pixels = codecs.decode_png(bytes(r["content"]))
        assert (w, h) == (4, 4)
        assert r["meta"]["width"] == 4 and r["meta"]["mime"] == "image/png"
    w, h, ch, pixels = codecs.decode_png(bytes(resized[2]["content"]))
    assert pixels == bytes([30, 60, 90]) * 16  # constant color preserved


def test_multimodal_decoder_injection_and_fallback_precedence(spark):
    """r8 verdict ask #6: every media operator takes ``decoder=`` — the
    injected callable runs FIRST (deployment intent beats auto-detect),
    declines a blob with NotImplementedError to fall through to the
    built-in dispatch, and its OTHER exceptions flow into on_error like
    a built-in decode failure.  This is the hook that lets a PyAV
    deployment decode inter-frame video without forking the operators."""
    from cloudfabric_eventsourcing_spark.operators import codecs

    real_png = codecs.encode_png(4, 3, 3, bytes([10, 20, 30]) * 12)

    def stub_image(content: bytes):
        if content[:4] != b"STUB":
            raise NotImplementedError  # decline: PNG must fall through
        return 2, 2, 3, bytes([200, 0, 0]) * 4

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"STUBxxxx"), None),
         (2, "image", bytearray(real_png), None)],
        multimodal.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in multimodal.decode_image_features(
        media, decoder=stub_image
    ).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (2, 2)  # injected won
    assert (feats[2]["width"], feats[2]["height"]) == (4, 3)  # fell through

    # the injected decoder outranks the built-ins even on bytes they CAN
    # decode: a decoder that claims everything sees the PNG first
    def stub_all(content: bytes):
        return 1, 1, 3, bytes([5, 5, 5])

    feats2 = {r["media_id"]: r for r in multimodal.decode_image_features(
        media, decoder=stub_all
    ).collect()}
    assert (feats2[2]["width"], feats2[2]["height"]) == (1, 1)

    # non-NotImplementedError exceptions are decode failures: on_error
    # applies (skip drops the blob instead of killing the job)
    def stub_raising(content: bytes):
        if content[:4] == b"STUB":
            raise ValueError("corrupt")
        raise NotImplementedError

    kept = multimodal.decode_image_features(
        media, decoder=stub_raising, on_error="skip"
    ).collect()
    assert [r["media_id"] for r in kept] == [2]

    # video: a stub "H.264" decoder makes non-AVI bytes demux through
    # sample_frames; real AVIs in the same frame fall through to the floor
    avi = codecs.encode_avi(2, 2, 10.0, [bytes(range(12))])

    def stub_video(content: bytes):
        if content[:4] != b"H264":
            raise NotImplementedError
        return 2, 2, 30.0, [bytes([9] * 12), bytes([8] * 12)]

    vmedia = spark.createDataFrame(
        [(10, "video", bytearray(b"H264" + b"\0" * 16), None),
         (11, "video", bytearray(avi), None)],
        multimodal.MEDIA_SCHEMA,
    )
    frames = multimodal.sample_frames(
        vmedia, every_n=1, decoder=stub_video
    ).collect()
    got = {(r["media_id"], r["frame_idx"]) for r in frames}
    assert got == {(10, 0), (10, 1), (11, 0)}

    # audio: stub decoder for non-WAV bytes; WAV falls through
    wav = codecs.encode_wav(8000, 1, 2, bytes(1600))

    def stub_audio(content: bytes):
        if content[:4] != b"OPUS":
            raise NotImplementedError
        return 8000, 1, 2, bytes(3200)

    amedia = spark.createDataFrame(
        [(20, "audio", bytearray(b"OPUS" + b"\0" * 8), None),
         (21, "audio", bytearray(wav), None)],
        multimodal.MEDIA_SCHEMA,
    )
    chunks = multimodal.chunk_audio(
        amedia, chunk_ms=100, decoder=stub_audio
    ).collect()
    by_id = {}
    for r in chunks:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[20]) == 2 and len(by_id[21]) == 1
    # injected-decoded chunks re-encode as standalone WAVs like the floor's
    rate, nch, width, frames_b = codecs.decode_wav(
        bytes(by_id[20][0]["chunk_bytes"])
    )
    assert (rate, nch, width) == (8000, 1, 2)


def test_multimodal_real_paths_tolerate_null_content(spark):
    """content is nullable in MEDIA_SCHEMA and the fake paths handle
    None — the real (default) paths must too: one null-content row
    previously aborted the whole job with a codec ValueError (r6
    advice).  Nulls yield null decoded fields (features/resize) or zero
    chunks (audio); non-null rows in the same batch still decode."""
    from cloudfabric_eventsourcing_spark.operators import codecs

    solid = codecs.encode_png(4, 3, 3, bytes([10, 20, 30]) * 12)
    wav = codecs.encode_wav(8000, 1, 2, b"\x00\x01" * 800)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(solid),
             {"mime": "image/png", "width": None, "height": None,
              "duration_ms": None}),
            (2, "image", None,
             {"mime": "image/png", "width": None, "height": None,
              "duration_ms": 9}),
            (3, "audio", None, None),
            (4, "audio", bytearray(wav),
             {"mime": "audio/wav", "width": None, "height": None,
              "duration_ms": None}),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in
             multimodal.decode_image_features(media).collect()}
    assert (feats[1]["width"], feats[1]["height"]) == (4, 3)
    assert feats[2]["width"] is None and feats[2]["features"] is None
    assert feats[2]["n_bytes"] == 0

    resized = {r["media_id"]: r for r in
               multimodal.resize_images(media, 2, 2).collect()}
    assert resized[2]["content"] is None
    assert resized[2]["meta"]["width"] == 2
    assert resized[2]["meta"]["duration_ms"] == 9
    assert codecs.decode_png(bytes(resized[1]["content"]))[:2] == (2, 2)

    chunks = multimodal.chunk_audio(media, chunk_ms=50).collect()
    assert {r["media_id"] for r in chunks} == {4}  # null row: zero chunks


def test_multimodal_real_wav_chunking(spark):
    """Real audio path: RIFF/PCM WAV parsed at its true sample rate,
    chunked on frame boundaries, each chunk an independently decodable
    WAV, durations exact and total frames preserved."""
    from cloudfabric_eventsourcing_spark.operators import codecs

    with open(_fixture("ramp_8k_mono.wav"), "rb") as fh:
        wav = fh.read()
    rate, n_ch, width, frames = codecs.decode_wav(wav)
    assert (rate, n_ch, width) == (8000, 1, 2)
    media = spark.createDataFrame(
        [(7, "audio", bytearray(wav),
          {"mime": "audio/wav", "width": None, "height": None,
           "duration_ms": None})],
        multimodal.MEDIA_SCHEMA,
    )
    chunks = sorted(
        multimodal.chunk_audio(media, chunk_ms=500).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # 20000 frames @8 kHz = 2.5 s -> 5 chunks of 500 ms
    assert [r["duration_ms"] for r in chunks] == [500] * 5
    total = b""
    for r in chunks:
        c_rate, c_ch, c_width, c_frames = codecs.decode_wav(bytes(r["chunk_bytes"]))
        assert (c_rate, c_ch, c_width) == (rate, n_ch, width)
        total += c_frames
    assert total == frames  # lossless re-assembly


def test_multimodal_frame_sampling(spark, docs):
    media = multimodal.media_from_documents(docs)
    frames = multimodal.sample_frames(media, every_n=2, fake=True)
    rows = frames.limit(50).collect()
    assert rows
    assert all(r["frame_idx"] % 2 == 0 for r in rows)
    assert all(isinstance(r["frame_bytes"], (bytes, bytearray)) for r in rows)


@pytest.mark.slow
def test_cosine_neardup_lsh_on_planted(spark, emb):
    # plant 6 near-identical copies of vec 1 (cosine ~0.9999) — the LSH
    # bucketed scan must find every planted pair the exact scan finds
    import numpy as np

    base = emb.where(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    dims = len(base)
    rng = np.random.RandomState(3)
    planted = [
        (200000 + i, (np.asarray(base) + rng.normal(0, 0.002, dims)).astype("float32").tolist(), -1)
        for i in range(6)
    ]
    full = emb.select("vec_id", "embedding", "label").unionByName(
        spark.createDataFrame(planted, emb.select("vec_id", "embedding", "label").schema)
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.cosine_neardup_pairs(full, threshold=0.99).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.cosine_neardup_pairs_lsh(
            full, threshold=0.99, dims=dims, bits=8
        ).collect()
    }
    # C(7,2)=21 true near-dup pairs (vec 1 + 6 plants)
    assert len(exact) == 21
    assert approx == exact  # sim ~0.9999 -> bucket collision prob ~0.996^8


@pytest.mark.slow
def test_minhash_index_incremental_dedup(spark, docs, tmp_path):
    """Persisted MinHash index (train-once/dedup-many): a new batch's
    pairs against the index must equal the cross-(new, corpus) slice of
    the one-shot pair scan on the union — same banding, same verify."""
    path = str(tmp_path / "mh_index")
    corpus = docs.limit(200).select("doc_id", "text")
    dedup.save_minhash_index(corpus, path)
    # new batch: 5 exact copies of corpus docs (re-keyed) + 5 novel rows
    copies = (
        corpus.limit(5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    novel = spark.createDataFrame(
        [(200000 + i, f"utterly novel text number {i} zqxjkw") for i in range(5)],
        ["doc_id", "text"],
    )
    batch = copies.unionByName(novel)
    got = {
        (r["new_id"], r["index_id"])
        for r in dedup.dedup_against_index(batch, path).collect()
    }
    # oracle: one-shot scan over corpus+batch, restricted to cross pairs
    union = corpus.unionByName(batch)
    all_pairs = dedup.minhash_lsh_pairs(union, threshold=0.9).collect()
    want = set()
    for r in all_pairs:
        a, b = r["id_a"], r["id_b"]
        if a < 100000 <= b:
            want.add((b, a))
        elif b < 100000 <= a:
            want.add((a, b))
    assert got == want and len(got) >= 5
    # large-batch fallback (broadcast=False): shuffled joins, same pairs
    got_shuffled = {
        (r["new_id"], r["index_id"])
        for r in dedup.dedup_against_index(batch, path, broadcast=False).collect()
    }
    assert got_shuffled == want
    # Plan pin for the broadcast path: the bucket probe broadcasts the
    # NEW side and the verify join streams the stored grams through
    # broadcast joins (candidates prune first) — the ONLY shuffle in the
    # whole plan is the slim candidate-pair dedup; the corpus bands and
    # grams scans never hit an Exchange (the pre-r05 shape joined the
    # full grams table and relied on AQE to avoid a corpus shuffle).
    plan = (
        dedup.dedup_against_index(batch, path)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    # The structural guarantee: the stored-grams FileScan STREAMS through
    # the verify joins — no Exchange node sits between it and the plan
    # root (exchanges elsewhere carry only the small batch or slim
    # candidate id pairs).
    lines = plan.splitlines()

    def _depth(line: str) -> int:
        m = line.find("+- ")
        return m if m >= 0 else len(line)

    # the grams scan is the FileScan reading (id, g) — the location path
    # can be elided in toString, the column list is not
    gi = next(
        i for i, l in enumerate(lines)
        if "FileScan parquet [id#" in l and ",g#" in l
    )
    d = _depth(lines[gi])
    for i in range(gi - 1, 0, -1):
        if _depth(lines[i]) < d:
            d = _depth(lines[i])
            assert "Exchange" not in lines[i], (
                f"stored grams shuffle at: {lines[i].strip()}"
            )


@pytest.mark.slow
def test_minhash_index_append_and_meta_guard(spark, docs, tmp_path):
    path = str(tmp_path / "mh_index2")
    # orderBy before limit: un-ordered limits give no row guarantee and
    # are re-evaluated per action, so `extra` could otherwise differ
    # between the index append and the probe
    ordered = docs.orderBy("doc_id").select("doc_id", "text")
    dedup.save_minhash_index(ordered.limit(50), path)
    # append more corpus; a copy of an appended doc must now be caught
    extra = ordered.limit(60).subtract(ordered.limit(50))
    dedup.save_minhash_index(extra, path, mode="append")
    probe = extra.orderBy("doc_id").limit(1).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    hits = dedup.dedup_against_index(probe, path).collect()
    assert len(hits) >= 1 and all(r["jaccard"] >= 0.9 for r in hits)
    # appending with different banding parameters is refused
    with pytest.raises(ValueError):
        dedup.save_minhash_index(
            docs.limit(5), path, num_perm=64, bands=16, mode="append"
        )


def test_ngram_overlap_stats_planted(spark):
    """Overlap report: a doc quoting half a benchmark question scores a
    partial ratio; a verbatim inclusion scores ~1; clean docs 0; a doc
    shorter than n tokens reports 0 grams."""
    bench_text = "what is the capital of france and when was it founded exactly"
    train = spark.createDataFrame(
        [
            (1, bench_text),  # verbatim
            (2, "intro words then what is the capital of france and more own text here"),
            (3, "totally unrelated training document about gradient descent steps"),
            (4, "tiny"),
        ],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    got = {
        r["id"]: r
        for r in dedup.ngram_overlap_stats(train, test, n=5).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["overlap_ratio"] == 1.0
    assert 0 < got[2]["overlap_ratio"] < 1.0
    assert got[3]["overlap_ratio"] == 0.0 and got[3]["n_contaminated"] == 0
    assert got[4]["n_grams"] == 0 and got[4]["overlap_ratio"] == 0.0
    # consistency with the binary filter: any doc the filter drops has
    # ratio > 0, and survivors have ratio == 0
    kept = {
        r["doc_id"] for r in dedup.ngram_decontaminate(train, test, n=5).collect()
    }
    for d, r in got.items():
        assert (r["overlap_ratio"] == 0.0) == (d in kept)


def test_cosine_index_incremental_dedup(spark, emb, tmp_path):
    """Persisted cosine-LSH index: re-keyed copies of corpus vectors are
    found at cosine 1.0, novel random vectors are not; the probe prunes
    to the batch's bucket partitions and broadcasts the batch."""
    import numpy as np

    path = str(tmp_path / "cos_idx")
    corpus = emb.limit(100).select("vec_id", "embedding")
    dims = len(corpus.select("embedding").first()[0])
    dedup.save_cosine_index(corpus, path, dims=dims, bits=8)
    rng = np.random.default_rng(7)
    copies = (
        corpus.limit(3)
        .select((F.col("vec_id") + 900000).alias("vec_id"), "embedding")
    )
    novel = spark.createDataFrame(
        [
            (910000 + i, rng.normal(0, 1, dims).astype("float32").tolist())
            for i in range(3)
        ],
        "vec_id long, embedding array<float>",
    )
    batch = copies.unionByName(novel)
    out = dedup.cosine_dedup_against_index(batch, path, threshold=0.999)
    rows = out.collect()
    hit_new = {r["new_id"] for r in rows}
    assert {r["vec_id"] for r in copies.collect()} == hit_new
    assert all(r["cosine"] >= 0.999 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [pbucket" in plan
    # the full bucket value prunes ROW GROUPS inside the prefix dirs
    assert "PushedFilters: [In(bucket" in plan
    assert "BroadcastHashJoin" in plan
    # mismatched parameters refused on append
    with pytest.raises(ValueError):
        dedup.save_cosine_index(
            corpus.limit(1), path, dims=dims, bits=4, mode="append"
        )


@pytest.mark.slow
def test_cosine_index_multiprobe_recovers_bit_flip(spark, emb, tmp_path):
    """A true near-dup whose sign flips on ONE near-margin hyperplane
    lands one bucket-bit away: exact-bucket probing misses it, the
    default 1-bit multiprobe finds it."""
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators.similarity import (
        _projection_matrix,
    )

    path = str(tmp_path / "cos_idx_mp")
    corpus = emb.limit(50).select("vec_id", "embedding")
    dims = len(corpus.select("embedding").first()[0])
    bits, seed = 8, 42
    dedup.save_cosine_index(corpus, path, dims=dims, bits=bits, seed=seed)
    proj = _projection_matrix(dims, bits, seed)
    rng = np.random.default_rng(3)
    rows = corpus.collect()
    # craft a copy of some corpus vector perturbed to flip EXACTLY one
    # hyperplane sign while keeping cosine >= 0.99
    planted = None
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        signs = (v @ proj) > 0
        for _ in range(40):
            v2 = v + rng.normal(0, 0.02 * np.linalg.norm(v) / np.sqrt(dims), dims)
            s2 = (v2 @ proj) > 0
            flips = int((signs != s2).sum())
            cos = float(v @ v2 / (np.linalg.norm(v) * np.linalg.norm(v2)))
            if flips == 1 and cos >= 0.99:
                planted = (r["vec_id"], v2)
                break
        if planted:
            break
    assert planted is not None, "could not craft a one-bit-flip near-dup"
    src_id, v2 = planted
    batch = spark.createDataFrame(
        [(999999, [float(x) for x in v2])], "vec_id long, embedding array<float>"
    )
    exact = dedup.cosine_dedup_against_index(
        batch, path, threshold=0.99, nprobe_flips=0
    ).collect()
    assert src_id not in {r["index_id"] for r in exact}
    probed = dedup.cosine_dedup_against_index(
        batch, path, threshold=0.99, nprobe_flips=1
    ).collect()
    assert src_id in {r["index_id"] for r in probed}


def test_minhash_lsh_bucket_cap_subset(spark, sf_dir):
    """Skew valve: capped buckets emit star pairs only — output must stay
    a SUBSET of the exact >=threshold pair list (verified pairs can never
    be false positives)."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(docs, 0.9).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, 0.9, max_bucket_size=8).collect()
    }
    assert capped and capped <= exact


def test_minhash_lsh_materialize_identical(spark, sf_dir):
    """r14 optimization: materialize=True localCheckpoints the slim
    banded table so the signature chain evaluates once instead of 8x
    (the star-valve consumers).  Output must be row-identical to the
    lazy form, valve engaged, verify on."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    kw = dict(
        threshold=0.9,
        num_perm=128,
        bands=32,
        max_bucket_size=8,  # engage the star valve on the fixture corpus
        broadcast_grams=True,
    )
    lazy = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_lsh_pairs(docs, **kw).collect()
    )
    mat = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.minhash_lsh_pairs(docs, materialize=True, **kw).collect()
    )
    assert lazy and mat == lazy


def test_banded_hamming_materialize_identical(spark, sf_dir):
    """r14 optimization: simhash_candidate_pairs / hamming_neardup_pairs
    localCheckpoint the slim signature table before the 4 band
    self-joins (8 references otherwise re-run the upstream chain).
    Output must be row-identical to the lazy form."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.simhash_signatures(docs, weighted=True)
    lazy = sorted(
        map(tuple, dedup.simhash_candidate_pairs(sig, materialize=False).collect())
    )
    mat = sorted(
        map(tuple, dedup.simhash_candidate_pairs(sig, materialize=True).collect())
    )
    assert lazy and mat == lazy

    hashes = docs.select(
        F.col("doc_id"), F.xxhash64("text").alias("h64")
    )
    lazy_h = sorted(
        map(
            tuple,
            dedup.hamming_neardup_pairs(
                hashes, "h64", "doc_id", max_hamming=3, materialize=False
            ).collect(),
        )
    )
    mat_h = sorted(
        map(
            tuple,
            dedup.hamming_neardup_pairs(
                hashes, "h64", "doc_id", max_hamming=3, materialize=True
            ).collect(),
        )
    )
    assert mat_h == lazy_h


def test_redact_pii(spark):
    from cloudfabric_eventsourcing_spark.operators.text import redact_pii
    from pyspark.sql import functions as F

    rows = [
        ("reach me at jane.doe+x@corp.example.org or on +1 (555) 123-4567",),
        ("docs: https://ex.com/a?b=1 plain text stays",),
        ("no pii here",),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = [r[0] for r in df.select(redact_pii(F.col("text"))).collect()]
    assert out[0] == "reach me at <REDACTED> or on <REDACTED>"
    assert out[1] == "docs: <REDACTED> plain text stays"
    assert out[2] == "no pii here"


def test_ngram_decontaminate_planted(spark):
    """A train doc sharing an 8-gram with the eval set must be dropped;
    clean docs survive with all columns."""
    from cloudfabric_eventsourcing_spark.operators.dedup import ngram_decontaminate

    leak = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            (1, "prefix words " + leak + " suffix words", "a"),
            (2, "completely unrelated training document text here okay", "b"),
            (3, "another clean document with its own words entirely", "c"),
        ],
        "doc_id long, text string, extra string",
    )
    test = spark.createDataFrame(
        [(100, "eval question mentions " + leak + " exactly")],
        "doc_id long, text string",
    )
    kept = ngram_decontaminate(train, test, n=8)
    assert sorted(r.doc_id for r in kept.collect()) == [2, 3]
    assert kept.columns == ["doc_id", "text", "extra"]
    # non-broadcast fallback gives identical results
    kept2 = ngram_decontaminate(train, test, n=8, broadcast_test=False)
    assert sorted(r.doc_id for r in kept2.collect()) == [2, 3]


def test_multimodal_audio_chunking(spark, docs):
    from cloudfabric_eventsourcing_spark.operators import multimodal

    media = multimodal.media_from_documents(docs)
    audio_n = media.where(F.col("kind") == "audio").count()
    assert audio_n > 0
    chunks = multimodal.chunk_audio(media, chunk_ms=4, fake=True)
    rows = chunks.collect()
    assert {r["media_id"] for r in rows} == {
        r["media_id"] for r in media.where(F.col("kind") == "audio").collect()
    }
    # chunks are contiguous, correctly indexed, duration consistent
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rs in list(by_media.items())[:5]:
        idxs = sorted(r["chunk_idx"] for r in rs)
        assert idxs == list(range(len(idxs)))
        assert all(r["duration_ms"] <= 4 for r in rs)
    with pytest.raises(Exception):
        multimodal.chunk_audio(media, fake=False).collect()


@pytest.mark.slow
def test_curation_pipeline_end_to_end(spark, docs):
    """The composed curation pipeline: every stage shrinks (or keeps) the
    corpus, output is deduplicated, decontaminated and capped."""
    from cloudfabric_eventsourcing_spark.operators.curation import curate

    test_set = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    curated, stats = curate(
        train,
        neardup_threshold=0.9,
        min_quality=0.0,
        scrub_pii=True,
        decontaminate_against=test_set,
        decontaminate_n=3,
        sample_per_stratum=50,
        sample_strata="source",
    )
    assert stats["input"] == train.count()
    assert stats["exact_dedup"] <= stats["input"]
    assert stats["neardup"] <= stats["exact_dedup"]
    assert stats["quality_gate"] <= stats["neardup"]
    assert stats["decontaminated"] <= stats["quality_gate"]
    assert stats["sampled"] <= stats["decontaminated"]
    rows = curated.collect()
    assert len(rows) == stats["sampled"] > 0
    # per-stratum cap holds
    from collections import Counter

    per_src = Counter(r["source"] for r in rows)
    assert max(per_src.values()) <= 50
    # deterministic: same inputs -> same selection
    again, _ = curate(
        train,
        neardup_threshold=0.9,
        min_quality=0.0,
        decontaminate_against=test_set,
        decontaminate_n=3,
        sample_per_stratum=50,
        sample_strata="source",
        collect_stats=False,
    )
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in again.collect()}


def test_curation_boilerplate_and_repetition_gates(spark, docs):
    """New round-3 stages compose: corpus-frequent planted lines are
    stripped before hashing, and high-repetition docs fall to the gate."""
    from cloudfabric_eventsourcing_spark.operators.curation import curate

    dirty = docs.withColumn(
        "text",
        F.concat(
            F.lit("subscribe to our newsletter\n"),
            F.col("text"),
            # every 5th doc degenerates into a repeated-trigram tail
            F.when(
                F.col("doc_id") % 5 == 0,
                # 160 tail tokens vs bodies of 10-99: ratio lands 0.57-0.85
                F.repeat(F.lit(" buy cheap tokens now"), 40),
            ).otherwise(F.lit("")),
        ),
    )
    curated, stats = curate(
        dirty,
        boilerplate_min_docs=10,
        neardup_threshold=None,
        max_repetition=0.5,
        scrub_pii=False,
    )
    assert stats["boilerplate_stripped"] == stats["input"]  # strip, not drop
    rows = curated.collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    # the planted banner is gone from every surviving doc
    assert all("newsletter" not in t for t in texts.values())
    # every degenerate doc was dropped by the repetition gate, the rest kept
    assert all(d % 5 != 0 for d in texts)
    assert stats["quality_gate"] == stats["input"] - dirty.where(
        F.col("doc_id") % 5 == 0
    ).count()


def test_multimodal_resize_images(spark, docs):
    from cloudfabric_eventsourcing_spark.operators import multimodal

    media = multimodal.media_from_documents(docs)
    resized = multimodal.resize_images(media, width=32, height=16, fake=True)
    rows = resized.collect()
    n_images = media.where("kind = 'image'").count()
    assert len(rows) == n_images and n_images > 0
    target = 32 * 16 // 8
    for r in rows:
        assert len(r["content"]) == target  # exact size normalization
        assert r["meta"]["width"] == 32 and r["meta"]["height"] == 16
        assert r["meta"]["mime"] == "application/octet-stream"  # carried over
    # deterministic across runs
    again = {r["media_id"]: bytes(r["content"]) for r in resized.collect()}
    assert {r["media_id"]: bytes(r["content"]) for r in rows} == again
    # composes with the feature decoder (MEDIA_SCHEMA column shapes kept)
    feats = multimodal.decode_image_features(
        resized.withColumn("kind", F.lit("image")), fake=True
    )
    assert feats.count() == n_images

    import pytest as _pytest

    with _pytest.raises(Exception):
        multimodal.resize_images(media, 32, 16, fake=False).collect()


def test_rarity_weighted_scores(spark, docs):
    from cloudfabric_eventsourcing_spark.operators.text import (
        rarity_weighted_scores,
    )

    out = rarity_weighted_scores(docs, ["dup", "scan"]).collect()
    assert out, "corpus contains both terms"
    n = docs.count()
    dup_docs = docs.where("text like '%dup%'").count()
    scan_docs = docs.where("text like '%scan%'").count()
    assert dup_docs < scan_docs  # 'dup' is the rare term
    # a doc mentioning only the rare term must outscore one mentioning only
    # the common term the same number of times: weight ratio ~ df_scan/df_dup
    scores = {r["doc_id"]: r["score"] for r in out}
    only_dup = docs.where(
        "text like '%dup%' and text not like '%scan%'"
    ).select("doc_id").collect()
    only_scan = docs.where(
        "text like '%scan%' and text not like '%dup%'"
    ).select("doc_id").collect()
    if only_dup and only_scan:
        assert max(scores[r["doc_id"]] for r in only_dup) > max(
            scores[r["doc_id"]] for r in only_scan
        )
    # no-UDF plan
    plan = rarity_weighted_scores(docs, ["dup"])._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_guarantee_and_edges(spark):
    """Winnowing's defining guarantee (Schleimer et al.): two documents
    sharing a token run of length >= window + k - 1 share at least one
    fingerprint — regardless of hash choice.  Plus the edges: short
    documents (< k tokens -> empty set; < window grams -> single min),
    unrelated text yields no pair, the max_postings valve drops
    corpus-wide fingerprints, and the plan has no UDF."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + shared + " closing remarks"),
            (2, "completely different opening " + shared),
            (3, "nothing in common with anything else at all whatsoever"),
            (4, "tiny doc"),              # < k tokens: empty set
            (5, "exactly three tokens"),  # one 3-gram: single-min path
            (6, ""),                      # empty: negative gspan guarded
            (7, None),                    # null text: empty set, no error
        ],
        "doc_id long, text string",
    )
    for h in ("xxh64", "md5"):
        fps = {
            r["doc_id"]: list(r["fingerprints"])
            for r in winnowing_fingerprints(
                docs, k=3, window=4, hash=h
            ).collect()
        }
        assert fps[4] == [] and fps[6] == [] and fps[7] == []
        assert len(fps[5]) == 1
        assert set(fps[1]) & set(fps[2])  # the guarantee (10 >= 4+3-1)
        pairs = winnowing_overlap_pairs(
            docs, k=3, window=4, min_shared=1, hash=h
        ).collect()
        assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
        assert pairs[0]["n_shared"] >= 1
    # the valve: every fingerprint of 1&2's shared run appears twice, so
    # max_postings=1 kills the pair (and never invents one)
    assert (
        winnowing_overlap_pairs(
            docs, k=3, window=4, min_shared=1, max_postings=1
        ).count()
        == 0
    )
    plan = (
        winnowing_overlap_pairs(docs, k=3, window=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_arrow_kernel_identical(spark):
    """The md5 winnowing kernel (hashlib MD5 + sliced window minima) on
    the edge shapes: null/empty/short docs, mixed ASCII whitespace
    (Java's `\\s` class, which excludes Unicode spaces), and non-ASCII
    case folding (final sigma, dotted capital I), where the JVM and
    Python must lowercase alike.  The literals are the fingerprints the
    retired md5 Column-expression path produced for the same docs; on
    the fixture corpus the p16_winnowing_overlap DuckDB oracle pins the
    kernel's pairs."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        winnowing_fingerprints,
    )

    edge = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "a b"),
            (4, "exactly three tokens"),
            (5, "four tokens right here"),
            (6, "tab\tand\nnewline   runs\x0bform\fone token stream"),
            (7, "UPPER Case MiXeD tokens lower the same way"),
            (8, "ΣΑΣ"),
            (9, "ΣΑΣ ΟΔΟΣ"),
            (10, "İ"),
            (11, "ΣΑΣ ΟΔΟΣ İ ΣΑΣ ΟΔΟΣ"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: list(r["fingerprints"])
        for r in winnowing_fingerprints(
            edge, k=3, window=4, hash="md5"
        ).collect()
    }
    assert got == {
        1: [],
        2: [],
        3: [],
        # one gram, so its md5 is the fingerprint
        4: ["44b5280632ae21de6db6e662829414cf"],
        5: ["625e0670be7127c48a049198d8aa56ab"],
        6: ["079ab9c916cd9987931b78c711d9ea43"],
        7: [
            "36726296c5761faacf8c786ab2941809",
            "307a37e2582dcc724ea35ba14824fe3d",
        ],
        8: [],
        9: [],
        10: [],
        11: ["012c92033e6108f34b411698a522c846"],
    }


def test_duplicated_spans_and_removal(spark):
    """ExactSubstr spans (Lee et al. 2022, k-gram reformulation): the
    span boundaries are exact, within-doc repeats count toward
    min_count, the island merge uses gap <= k (adjacent spans fuse,
    k+1-separated ones don't), short/empty/null docs yield nothing,
    hash_grams changes only the shuffle key, and removal cuts every
    covered token while preserving original casing elsewhere."""
    from cloudfabric_eventsourcing_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    run = "alpha beta gamma delta"  # 4 tokens, shared verbatim
    docs = spark.createDataFrame(
        [
            (1, "One two three " + run + " four five six"),
            (2, run + " other closing words here"),
            (3, "self repeat pair self repeat pair tail words"),  # within-doc
            (4, "too short"),
            (5, ""),
            (6, None),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"]): r["n_grams"]
        for r in duplicated_spans(docs, k=4, min_count=2).collect()
    }
    # doc 1: run occupies tokens 4-7 (1-based); doc 2: tokens 1-4
    assert (1, 4, 7) in spans and (2, 1, 4) in spans
    assert spans[(1, 4, 7)] == 1 and spans[(2, 1, 4)] == 1
    # doc 3: "self repeat pair self" ... the repeated 3-token phrase makes
    # 4-grams "self repeat pair self" etc. appear... only grams repeated
    # >= 2 times count; here every 4-gram is unique, so no span
    assert not any(k[0] == 3 for k in spans)
    assert not any(k[0] in (4, 5, 6) for k in spans)
    # within-doc repeats DO count when the k-gram itself repeats
    rep = spark.createDataFrame(
        [(9, "x1 x2 x3 x4 filler1 filler2 x1 x2 x3 x4 trailer")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicated_spans(rep, k=4, min_count=2).collect()
    )
    assert got == [(1, 4), (7, 10)]
    # island merge boundary: duplicated-gram starts at pos p and p+k
    # fuse into one span; p and p+k+1 stay separate.  Build two docs
    # sharing two 4-gram runs placed at controlled gaps in doc A.
    r1 = "a1 a2 a3 a4"
    r2 = "b1 b2 b3 b4"
    fuse = spark.createDataFrame(
        [
            (1, r1 + " " + r2 + " pad1 pad2"),      # starts 1 and 5 = 1+k
            (2, r1 + " z9 " + r2 + " pad3"),        # starts 1 and 6 = 1+k+1
            (3, r1 + " end filler " + r2),          # supplies the dup grams
        ],
        "doc_id long, text string",
    )
    sp = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_grams"])
        for r in duplicated_spans(fuse, k=4, min_count=2)
        .groupBy("doc_id")
        .agg(
            F.min("span_start").alias("span_start"),
            F.max("span_end").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .collect()
    }
    one = duplicated_spans(fuse, k=4, min_count=2)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in one.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_doc[1] == 1 and sp[1][:2] == (1, 8)   # fused
    assert per_doc[2] == 2                            # split
    # hash_grams parity, and mark-strategy parity (window vs semijoin
    # are the same logical operator — r11's physical A/B; a strategy
    # that changes the answer is a bug, not a speedup)
    a = sorted(map(tuple, duplicated_spans(docs, k=4, min_count=2).collect()))
    b = sorted(
        map(
            tuple,
            duplicated_spans(docs, k=4, min_count=2, hash_grams=True).collect(),
        )
    )
    assert a == b
    c = sorted(
        map(
            tuple,
            duplicated_spans(
                docs, k=4, min_count=2, mark="semijoin"
            ).collect(),
        )
    )
    assert a == c
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mark must be"):
        duplicated_spans(docs, k=4, mark="bogus")
    # removal: every covered token cut, casing preserved, untouched docs
    # only whitespace-normalized
    clean = {
        r["doc_id"]: r["clean"]
        for r in remove_duplicated_spans(docs, k=4, min_count=2).collect()
    }
    assert clean[1] == "One two three four five six"
    assert clean[2] == "other closing words here"
    assert clean[3] == "self repeat pair self repeat pair tail words"
    assert clean[5] == "" and clean[6] == ""
    # stats report: coverage union per doc, zero rows for clean docs
    from cloudfabric_eventsourcing_spark.operators.dedup import (
        duplicated_span_stats,
    )

    stats = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_ratio"])
        for r in duplicated_span_stats(docs, k=4, min_count=2).collect()
    }
    assert len(stats) == 6                      # every doc reports
    assert stats[1] == (10, 4, 0.4)             # run occupies 4 of 10
    assert stats[2] == (8, 4, 0.5)
    assert stats[4] == (2, 0, 0.0)
    assert stats[5] == (0, 0, 0.0) and stats[6] == (0, 0, 0.0)
    # plan: span detection is UDF-free
    plan = (
        duplicated_spans(docs, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_centroid_cells_guard(spark):
    """r13 verdict #3: semantic_dedup collects+broadcasts the centroid
    table and pays N*k*dim assignment flops — over the configured cell
    ceiling it must refuse loudly BEFORE collecting, naming the
    two-level-assignment upgrade path, instead of OOMing the driver at
    design scale.  None disables the guard."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cid long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="two_level"):
        semantic_dedup(emb, cents, 0.9, max_centroid_cells=3)
    # at/under the ceiling (4 cells = 2 centroids x dim 2) and with the
    # guard disabled, both paths run
    for kw in ({"max_centroid_cells": 4}, {"max_centroid_cells": None}):
        for arrow in (True, False):
            assert (
                semantic_dedup(
                    emb, cents, 0.9, use_arrow=arrow, **kw
                ).count()
                == 1
            )


@pytest.mark.slow
def test_semantic_dedup_two_level_matches_exact(spark, sf_dir):
    """The centroid-cell guard's shipped upgrade path: two-level
    assignment collects only ~sqrt(k) seeds and streams the centroid
    table as cogrouped DATA.  Pins: (a) with coarse_nprobe = all cells
    it equals semantic_dedup EXACTLY (every centroid scored, same tie
    rules) on the real corpus AND a dirty corpus (null/ragged/zero-norm
    vectors, null + duplicate-null ids); (b) with nprobe=1 on
    well-separated planted clusters it also matches (the IVF premise);
    (c) parameter validation."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_two_level,
    )

    def norm(df):
        return sorted(
            (
                (r["vec_id"], r["cluster_id"], r["kept"])
                for r in df.collect()
            ),
            key=lambda t: (t[0] is not None, t[0] or 0, t[1]),
        )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(F.col("vec_id").alias("cid"), "embedding")
    )
    exact = norm(semantic_dedup(emb, cents, 0.95))
    two_all = norm(
        semantic_dedup_two_level(
            emb, cents, 0.95, coarse_cells=4, coarse_nprobe=4
        )
    )
    assert two_all == exact
    # dirty corpus: nulls, ragged, zero-norm, null ids (two of them —
    # the surrogate-key regression: they must stay DISTINCT rows)
    dirty = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.001]),
            (3, None),
            (4, [1.0, 2.0, 3.0]),
            (5, [0.0, 0.0]),
            (None, [1.0, 0.0]),
            (None, None),
        ],
        "vec_id long, embedding array<double>",
    )
    dcents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (7, [0.0, 1.0])],
        "cid long, embedding array<double>",
    )
    dx = norm(semantic_dedup(dirty, dcents, 0.99))
    dt = norm(
        semantic_dedup_two_level(
            dirty, dcents, 0.99, coarse_cells=2, coarse_nprobe=2
        )
    )
    assert dt == dx
    assert len(dt) == 7  # both null-id docs present as their own rows
    # nprobe=1 on well-separated clusters: the coarse route finds the
    # same cell the exact argmax does
    sep = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),
            (11, [1.0, 0.0, 0.0]),
            (12, [0.99, 0.1, 0.0]),
            (13, [0.0, 1.0, 0.0]),
            (14, [0.0, 0.99, 0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    scents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid long, embedding array<double>",
    )
    s1 = norm(semantic_dedup_two_level(
        sep, scents, 0.99, coarse_cells=2, coarse_nprobe=1
    ))
    assert s1 == norm(semantic_dedup(sep, scents, 0.99))
    with _pytest.raises(ValueError, match="coarse_nprobe"):
        semantic_dedup_two_level(sep, scents, 0.9, coarse_nprobe=0)
    with _pytest.raises(ValueError, match="coarse_cells"):
        semantic_dedup_two_level(sep, scents, 0.9, coarse_cells=5)
    # a dirty CENTROID table refuses loudly (executor-side ValueError
    # surfaces as PySpark's PythonException wrapper)
    with _pytest.raises(Exception, match="ragged"):
        bad = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, None)],
            "cid long, embedding array<double>",
        )
        semantic_dedup_two_level(sep, bad, 0.9).collect()


def test_semantic_dedup_semantics(spark):
    """SemDeDup pins: broadcast-centroid argmax assignment, min-id
    survivor within a cluster, NO transitive closure (the documented
    per-pair property), cross-cluster near-dups untouched, and the
    assignment tie rule (equal cosine -> lowest cid)."""
    from cloudfabric_eventsourcing_spark.operators.dedup import semantic_dedup

    # axis-aligned clusters: cluster 0 along +x, cluster 1 along +y.
    # ids 10,11 identical (cos 1.0); 12 near 10 (cos ~0.995); 13 is
    # y-cluster; 14 near-y but closer to x than any x-member is to it.
    rows = [
        (10, [1.0, 0.0, 0.0]),
        (11, [1.0, 0.0, 0.0]),          # dup of 10 -> removed
        (12, [0.995, 0.0999, 0.0]),     # near 10 -> removed at tau=.99
        (13, [0.0, 1.0, 0.0]),          # other cluster, kept
        (14, [0.1, 0.995, 0.0]),        # y-cluster; far from 13? cos(13,14)~.995 -> removed
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(emb, cents, threshold=0.99).collect()
    }
    assert out[10] == (0, True) and out[11] == (0, False)
    assert out[12] == (0, False)
    assert out[13] == (1, True) and out[14] == (1, False)
    # non-transitivity: A~B and B~C above tau, cos(A,C) below tau ->
    # BOTH B and C removed (B by A, C by B) even though C !~ A; and a
    # chain member beyond anyone's reach survives
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0]

    th = math.acos(0.992)  # pairwise neighbors at cos .992 > tau
    chain = spark.createDataFrame(
        [(20, unit(0.0)), (21, unit(th)), (22, unit(2 * th)), (23, unit(9 * th))],
        "vec_id long, embedding array<float>",
    )
    out2 = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(chain, cents, threshold=0.99).collect()
    }
    assert out2[20] and not out2[21] and not out2[22] and out2[23]
    # tie rule: a vector equidistant from both centroids lands in cid 0
    tie = spark.createDataFrame(
        [(30, [0.5, 0.5, 0.0])], "vec_id long, embedding array<float>"
    )
    r = semantic_dedup(tie, cents, threshold=0.99).collect()[0]
    assert r["cluster_id"] == 0 and r["kept"]
    # plan pins per path (r13: Arrow kernel is the default):
    # - Column form: centroid assignment broadcast join, JVM-side only
    # - Arrow form: map-only assignment (no join/exchange before the
    #   one per-cluster regroup), no per-row Python eval nodes
    plan = (
        semantic_dedup(emb, cents, threshold=0.99, use_arrow=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Broadcast" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    aplan = (
        semantic_dedup(emb, cents, threshold=0.99)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in aplan or "mapInArrow" in aplan.lower()
    assert "BroadcastNestedLoop" not in aplan


def test_duplicated_spans_matches_naive_reference(spark):
    """Randomized differential: Spark's distributed gaps-and-islands
    construction vs an obviously-correct O(corpus) Python reference,
    across (k, min_count) configs, on a seeded corpus with planted
    shared runs, within-doc repeats, tiny vocab (hash-collision-free
    by construction) and short/empty docs mixed in."""
    import random
    import re

    rng = random.Random(1789)
    vocab = [f"w{i}" for i in range(12)]
    shared = [" ".join(rng.choice(vocab) for _ in range(rng.randint(4, 9))) for _ in range(5)]
    docs = []
    for d in range(120):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        text = " ".join(words)
        if rng.random() < 0.5:
            ins = rng.choice(shared)
            cut = rng.randint(0, len(words))
            text = " ".join(words[:cut] + [ins] + words[cut:])
        if rng.random() < 0.1:
            text = text + " " + text  # within-doc repeat
        docs.append((d, text if rng.random() > 0.05 else None))

    def naive(k, min_count):
        toks = {
            d: ([w for w in re.split(r"\s+", t.lower()) if w] if t else [])
            for d, t in docs
        }
        from collections import Counter

        counts = Counter()
        for ts in toks.values():
            for i in range(len(ts) - k + 1):
                counts[" ".join(ts[i : i + k])] += 1
        out = set()
        for d, ts in toks.items():
            dup = [
                i + 1
                for i in range(len(ts) - k + 1)
                if counts[" ".join(ts[i : i + k])] >= min_count
            ]
            run = []
            for pos in dup:
                if run and pos - run[-1] <= k:
                    run.append(pos)
                else:
                    if run:
                        out.add((d, run[0], run[-1] + k - 1, len(run)))
                    run = [pos]
            if run:
                out.add((d, run[0], run[-1] + k - 1, len(run)))
        return out

    from cloudfabric_eventsourcing_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for k, mc in ((2, 2), (3, 3), (5, 2)):
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
            for r in duplicated_spans(df, k=k, min_count=mc).collect()
        }
        assert got == naive(k, mc), f"mismatch at k={k}, min_count={mc}"


@pytest.mark.slow
def test_quality_classifier_and_pareto_filter(spark):
    """Quality-classifier pins: the boundary separates planted clean vs
    junk vocab on held-out docs, scoring preserves all input columns,
    the Pareto filter is deterministic per salt / varies across salts /
    retains high-quality docs at a far higher rate, and the scoring
    plan stays JVM-side (no Python eval nodes)."""
    import random

    from cloudfabric_eventsourcing_spark.operators.classify import (
        pareto_quality_filter,
        score_quality,
        train_quality_classifier,
    )

    rng = random.Random(42)
    clean = [f"c{i}" for i in range(40)]
    junk = [f"j{i}" for i in range(40)]

    def doc(vocab):
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 20)))

    pos = spark.createDataFrame(
        [(i, doc(clean)) for i in range(60)], "doc_id long, text string"
    )
    neg = spark.createDataFrame(
        [(100 + i, doc(junk)) for i in range(60)], "doc_id long, text string"
    )
    model = train_quality_classifier(pos, neg, num_features=1 << 12)
    held = spark.createDataFrame(
        [(200 + i, doc(clean)) for i in range(25)]
        + [(300 + i, doc(junk)) for i in range(25)],
        "doc_id long, text string",
    )
    scored = score_quality(held, model)
    assert set(scored.columns) == {"doc_id", "text", "quality_prob"}
    probs = {r["doc_id"]: r["quality_prob"] for r in scored.collect()}
    assert min(p for d, p in probs.items() if d < 300) > 0.9
    assert max(p for d, p in probs.items() if d >= 300) < 0.1
    # pareto filter: deterministic per salt, high-quality survives more
    kept_a = {r["doc_id"] for r in pareto_quality_filter(scored, salt="a").collect()}
    kept_a2 = {
        r["doc_id"]
        for r in pareto_quality_filter(scored.repartition(7), salt="a").collect()
    }
    assert kept_a == kept_a2
    hi = {d for d in probs if d < 300}
    lo = {d for d in probs if d >= 300}
    assert len(kept_a & hi) == len(hi)       # alpha=9: clean all survive
    assert len(kept_a & lo) < len(lo) / 2    # junk mostly dropped
    # salt independence is only visible at mid-range scores (at prob
    # ~1 every salt keeps, at ~0 every salt drops): a 0.5-prob frame
    # must produce different draws under different salts
    mid = spark.createDataFrame(
        [(i, 0.5) for i in range(300)], "doc_id long, quality_prob double"
    )
    salts = [
        frozenset(
            r["doc_id"] for r in pareto_quality_filter(mid, salt=s).collect()
        )
        for s in ("a", "b", "c")
    ]
    assert len(set(salts)) == 3
    # and the alpha=9 Pareto keep-rate at score 0.5 is P(draw > 0.5) =
    # 1.5^-9 ~ 2.6% — loose band
    rates = [len(x) / 300 for x in salts]
    assert all(0.0 < r < 0.15 for r in rates)
    # null text scores as an empty doc (no NPE) and survives in the
    # output untouched; a renamed text column is honored even when a
    # decoy column carries the model's fit-time name
    tricky = spark.createDataFrame(
        [(1, doc(clean), "zz"), (2, None, "zz")],
        "doc_id long, content string, text string",
    )
    out = {
        r["doc_id"]: r
        for r in score_quality(tricky, model, text_col="content").collect()
    }
    assert out[1]["quality_prob"] > 0.9      # scored the content column
    assert out[2]["text"] == "zz" and out[2]["content"] is None
    # plan: scoring + filter never drop into Python
    plan = (
        pareto_quality_filter(scored)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_matches_naive_reference(spark):
    """Randomized differential: the distributed assignment+pruning vs
    an obviously-correct O(N*k + sum cluster^2) Python reference with
    the same tie rules and the same 4-decimal cosine rounding."""
    import math
    import random

    rng = random.Random(4242)
    dims = 8
    vecs = []
    for i in range(150):
        base = [rng.gauss(0, 1) for _ in range(dims)]
        vecs.append((i, [float(x) for x in base]))
        if rng.random() < 0.3:  # planted near-dup: tiny perturbation
            vecs.append(
                (1000 + i, [float(x + rng.gauss(0, 0.01)) for x in base])
            )
    cents = [(c, v) for c, v in enumerate([e for _, e in vecs[:6]])]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 4)

    def naive():
        asg = {}
        for i, v in vecs:
            best = max(cents, key=lambda c: (cos(v, c[1]), -c[0]))
            asg[i] = best[0]
        out = {}
        by_c = {}
        for i, v in vecs:
            by_c.setdefault(asg[i], []).append((i, v))
        for cid, members in by_c.items():
            for i, v in members:
                removed = any(
                    j < i and cos(v, w) >= 0.9 for j, w in members
                )
                out[i] = (cid, not removed)
        return out

    from cloudfabric_eventsourcing_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cdf = spark.createDataFrame(cents, "cid long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(emb, cdf, threshold=0.9).collect()
    }
    assert got == naive()


def test_dsir_weights_match_naive_reference(spark):
    """Randomized differential for DSIR: Spark's micro-unit reduction vs
    a Python reference sharing the md5 bucketing, HALF_UP micro
    rounding, and exact integer summation."""
    import hashlib
    import math
    import random
    import re

    rng = random.Random(99)
    vocab_a = [f"a{i}" for i in range(25)]
    vocab_b = [f"b{i}" for i in range(25)]
    raw_docs = [
        (
            i,
            " ".join(
                rng.choice(vocab_a if rng.random() < 0.5 else vocab_b)
                for _ in range(rng.randint(0, 25))
            )
            if rng.random() > 0.05
            else None,
        )
        for i in range(120)
    ]
    target_docs = [
        (1000 + i, " ".join(rng.choice(vocab_a) for _ in range(15)))
        for i in range(30)
    ]

    def grams(t):
        toks = [w for w in re.split(r"\s+", t.lower()) if w] if t else []
        return toks + [f"{x} {y}" for x, y in zip(toks, toks[1:])]

    def bucket(g):
        return hashlib.md5(g.encode()).hexdigest()[:3]

    def counts(docs):
        c = {}
        for _, t in docs:
            for g in grams(t):
                b = bucket(g)
                c[b] = c.get(b, 0) + 1
        return c

    def half_up_micro(x):
        return int(math.floor(x * 1e6 + 0.5))

    def naive():
        tc, rc = counts(target_docs), counts(raw_docs)
        tt, tr = sum(tc.values()), sum(rc.values())
        lw = {}
        for b in set(tc) | set(rc):
            diff = math.log((tc.get(b, 0) + 1.0) / (tt + 4096.0)) - math.log(
                (rc.get(b, 0) + 1.0) / (tr + 4096.0)
            )
            lw[b] = half_up_micro(diff)
        out = {}
        for i, t in raw_docs:
            gs = grams(t)
            out[i] = (len(gs), sum(lw[bucket(g)] for g in gs) / 1e6)
        return out

    from cloudfabric_eventsourcing_spark.operators.sampling import (
        dsir_log_weights,
    )

    raw = spark.createDataFrame(raw_docs, "doc_id long, text string")
    target = spark.createDataFrame(target_docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_log_weights(raw, target).collect()
    }
    assert got == naive()


def test_bpe_train_sennrich_example(spark):
    """The worked example from Sennrich et al. 2016 §3.2 (the corpus
    {low:5, lower:2, newest:6, widest:3}): the learned merges start
    (e,s), (es,t), (est,</w>), (l,o), (lo,w) — any deviation means the
    pair counting, weighting, or tie-break drifted.  Encoding then
    splits the UNSEEN word 'lowest' into low + est</w>, the paper's
    headline behavior."""
    from cloudfabric_eventsourcing_spark.operators.bpe import (
        bpe_encode,
        train_bpe,
    )

    rows, i = [], 0
    for w, n in (("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)):
        for _ in range(n):
            rows.append((i, w))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(docs, n_merges=10)
    assert merges[:5] == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
    ]
    enc = spark.createDataFrame(
        [(99, "lowest newest"), (100, None), (101, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(enc, merges).collect()}
    assert out[99][:2] == ["low", "est</w>"]
    assert out[100] == [] and out[101] == []


@pytest.mark.slow
def test_bpe_matches_naive_reference(spark):
    """Randomized differential: the distributed trainer (word-table
    groupBy + F.aggregate merge scan) vs a pure-Python reference BPE
    learner with the same weighting, tie-break, and single-pass greedy
    merge application; then the encoder vs per-word reference encoding
    under the learned ranks."""
    import random
    import re

    rng = random.Random(2024)
    alphabet = "abcdef"
    vocab = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 7)))
        for _ in range(40)
    ]
    docs = [
        (
            i,
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20))),
        )
        for i in range(150)
    ]
    EOW = "</w>"

    def naive_train(n_merges, min_pair_count=2):
        freq = {}
        for _, t in docs:
            for w in re.split(r"\s+", t.lower()):
                if w:
                    freq[w] = freq.get(w, 0) + 1
        words = {tuple(list(w) + [EOW]): n for w, n in freq.items()}
        merges = []
        for _ in range(n_merges):
            counts = {}
            for syms, n in words.items():
                for pair in zip(syms, syms[1:]):
                    counts[pair] = counts.get(pair, 0) + n
            if not counts:
                break
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            if best[1] < min_pair_count:
                break
            a, b = best[0]
            merges.append((a, b))
            new_words = {}
            for syms, n in words.items():
                out, j = [], 0
                while j < len(syms):
                    if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                        out.append(a + b)
                        j += 2
                    else:
                        out.append(syms[j])
                        j += 1
                key = tuple(out)
                new_words[key] = new_words.get(key, 0) + n
            words = new_words
        return merges

    def naive_encode(text, ranks):
        out = []
        for w in re.split(r"\s+", text.lower()):
            if not w:
                continue
            syms = list(w) + [EOW]
            while len(syms) > 1:
                best, bi = None, -1
                for j in range(len(syms) - 1):
                    r = ranks.get((syms[j], syms[j + 1]))
                    if r is not None and (best is None or r < best):
                        best, bi = r, j
                if best is None:
                    break
                syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
            out.extend(syms)
        return out

    from cloudfabric_eventsourcing_spark.operators.bpe import (
        bpe_encode,
        train_bpe,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = train_bpe(df, n_merges=40, checkpoint_every=7)
    want = naive_train(40)
    assert got == want
    ranks = {m: r for r, m in enumerate(got)}
    enc = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(df, got).collect()}
    for i, t in docs[:25]:
        assert enc[i] == naive_encode(t, ranks), f"encode mismatch doc {i}"
    # lossless detokenization: EOW marks word ends
    joined = "".join(enc[0]).replace("</w>", " ").strip()
    assert joined == " ".join(
        w for w in re.split(r"\s+", docs[0][1].lower()) if w
    )


@pytest.mark.slow
def test_url_canonicalize_dedup_domain_mix(spark):
    """The web-pipeline URL stage (r13 verdict #7): every documented
    canonicalization rule on a table of tricky URLs, keep-min-id dedup
    with NULL passthrough, the registrable-domain approximation incl.
    two-level ccTLD suffixes, shares summing to 1, and the curate()
    wiring."""
    from cloudfabric_eventsourcing_spark.operators import curation, dedup
    from cloudfabric_eventsourcing_spark.operators.text import (
        canonicalize_url,
        domain_mix_report,
        url_domain,
        url_host,
    )

    cases = [
        ("HTTP://WWW.Example.COM:80/Page/1?utm_source=x&id=7#frag",
         "http://example.com/Page/1?id=7"),
        ("https://example.com:443/a/b/", "https://example.com/a/b"),
        ("https://Example.co.uk/?utm_campaign=y", "https://example.co.uk"),
        ("http://sub.Ex.com:8080/x?id=1&utm_a=2&fbclid=9",
         "http://sub.ex.com:8080/x?id=1"),
        ("  http://example.com/  ", "http://example.com"),
        # default ports are SCHEME-conditional
        ("http://example.com:443/x", "http://example.com:443/x"),
        ("https://example.com:80/x", "https://example.com:80/x"),
        ("https://example.com/?gclid=1&ref=rss", "https://example.com"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)
    hosts = df.select(
        "i",
        url_host(F.col("url")).alias("h"),
        url_domain(F.col("url")).alias("d"),
    ).collect()
    hd = {r["i"]: (r["h"], r["d"]) for r in hosts}
    assert hd[0] == ("example.com", "example.com")
    assert hd[2] == ("example.co.uk", "example.co.uk")
    assert hd[3] == ("sub.ex.com", "ex.com")
    assert hd[8] == (None, None)
    # non-URL strings are NULL hosts, not '' collisions
    junk = spark.createDataFrame([(1, "not a url")], "i long, url string")
    assert junk.select(url_host(F.col("url")).alias("h")).first()["h"] is None

    # dedup: 1/2 collide canonically (case+www+port), 3 distinct,
    # 4/5 NULL urls pass through
    docs = spark.createDataFrame(
        [
            (2, "HTTP://WWW.A.com:80/x", "b"),
            (1, "http://a.com/x", "a"),
            (3, "http://b.com/x", "c"),
            (4, None, "d"),
            (5, None, "e"),
        ],
        "doc_id long, url string, text string",
    )
    surv = dedup.url_dedup(docs, url_col="url", id_col="doc_id")
    assert {r["doc_id"] for r in surv.collect()} == {1, 3, 4, 5}
    assert "canonical_url" in surv.columns and "text" in surv.columns
    # materialize=True is a plan-only change (localCheckpoint of the
    # canonicalized frame): identical output
    mat = dedup.url_dedup(
        docs, url_col="url", id_col="doc_id", materialize=True
    )
    key = lambda d: d["doc_id"]  # noqa: E731
    assert sorted((r.asDict() for r in mat.collect()), key=key) == sorted(
        (r.asDict() for r in surv.collect()), key=key
    )
    rep = {
        r["domain"]: (r["n_docs"], r["share"])
        for r in domain_mix_report(surv, url_col="url").collect()
    }
    assert rep["a.com"] == (1, 0.25) and rep["b.com"] == (1, 0.25)
    assert rep[None] == (2, 0.5)
    assert abs(sum(s for _, s in rep.values()) - 1.0) < 1e-12
    # curate() wiring: the url stage runs first and its stat lands
    out, stats = curation.curate(
        docs, url_col="url", exact=False, neardup_threshold=None,
        scrub_pii=False,
    )
    assert stats["url_deduped"] == 4
    assert {r["doc_id"] for r in out.collect()} == {1, 3, 4, 5}
    assert "canonical_url" not in out.columns


@pytest.mark.slow
def test_curate_span_and_learned_gates(spark):
    """Integration of the two curate stages added for the span/classifier
    families: every planted artifact lands in its intended stage of the
    ONE canonical pipeline (operators.curation.curate — the self-review
    killed a parallel recipe module that had started to duplicate it),
    stats record rows REMAINING per stage, and surgery stages edit text
    without dropping rows.  Split into (a) the filter chain without the
    span stage and (b) the span stage alone, because corpus-level
    exact-substring coverage deliberately overlaps near-dedup's
    territory."""
    import random

    from cloudfabric_eventsourcing_spark.operators.classify import (
        train_quality_classifier,
    )
    from cloudfabric_eventsourcing_spark.operators.curation import curate

    boiler = "subscribe to the newsletter for it"
    good = [
        (
            i,
            f"the quick article number {i} describes a method of building "
            f"reliable data systems and it is written for engineers in the "
            f"field topic{i} detail{i} extra{i}\n" + boiler,
        )
        for i in range(8)
    ]
    german = [
        (20, "der hund ist nicht mit der katze und das ist ein problem"),
        (21, "die sonne ist auf und der tag ist nicht zu ende"),
    ]
    junk = [(30, "the !!! ??? ;;; of ,,,"), (31, "the ::: !!! of ??? ;;;")]
    pii = [
        (
            40,
            "the contact address of the author is jane@example.com and it "
            "is listed for questions about the method in the article here "
            "with more detail text following",
        )
    ]
    exact_pair = [
        (50, "the same exact text of a document that is repeated verbatim "
             "in the corpus for it and that is long enough to pass the "
             "quality band easily one two three"),
        (51, "the same exact text of a document that is repeated verbatim "
             "in the corpus for it and that is long enough to pass the "
             "quality band easily one two three"),
    ]
    base_words = [f"tok{j}" for j in range(40)]
    near_a = "the of and is " + " ".join(base_words)
    near_b_words = list(base_words)
    near_b_words[0] = "changed0"
    near_b = "the of and is " + " ".join(near_b_words)
    near_pair = [(60, near_a), (61, near_b)]
    contaminated = [
        (
            70,
            "the answer to the benchmark question is alpha beta gamma "
            "delta epsilon zeta eta theta and it is secret for the "
            "evaluation of the held out suite",
        )
    ]
    spam_vocab = [f"spam{j}" for j in range(30)]
    rng = random.Random(7)
    spammy = [
        (
            80,
            "the a of and is that it for in to "
            + " ".join(rng.choice(spam_vocab) for _ in range(30)),
        )
    ]
    docs = spark.createDataFrame(
        good + german + junk + pii + exact_pair + near_pair + contaminated
        + spammy,
        "doc_id long, text string",
    )
    test_sets = spark.createDataFrame(
        [
            (
                0,
                "question is alpha beta gamma delta epsilon zeta eta theta "
                "and it",
            )
        ],
        "doc_id long, text string",
    )
    # the positive seed must cover the style of everything that should
    # SURVIVE to the learned gate (a production seed is a broad curated
    # corpus); a seed of only the 8 articles scores the pii/exact/near
    # survivors as OOV-low and the gate over-drops
    seed = good + [(910, pii[0][1]), (911, exact_pair[0][1]), (912, near_a)]
    model = train_quality_classifier(
        spark.createDataFrame(seed, "doc_id long, text string"),
        spark.createDataFrame(
            [
                (900 + i, " ".join(rng.choice(spam_vocab) for _ in range(25)))
                for i in range(30)
            ],
            "doc_id long, text string",
        ),
        num_features=1 << 12,
    )
    clean, stats = curate(
        docs,
        boilerplate_min_docs=4,
        neardup_threshold=0.9,
        languages=["en"],
        min_quality=0.6,
        decontaminate_against=test_sets,
        quality_model=model,
        quality_floor=0.5,
    )
    # stats are rows REMAINING after each stage
    assert stats["input"] == 19       # 8 good + 2 de + 2 junk + 1 pii + 2 exact + 2 near + 1 contam + 1 spam
    assert stats["boilerplate_stripped"] == 19   # surgery, no drop
    assert stats["exact_dedup"] == 18            # doc 51
    assert stats["neardup"] == 17                # doc 61
    assert stats["quality_gate"] == 13           # 2 German + 2 punct floods
    assert stats["decontaminated"] == 12         # doc 70
    assert stats["learned_gate"] == 11           # doc 80
    assert stats["output"] == 11
    rows = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert set(rows) == {i for i, _ in good} | {40, 50, 60}
    assert all(boiler not in t for t in rows.values())   # boilerplate cut
    assert "jane@example.com" not in rows[40]            # PII redacted

    # (b) the span stage alone: a self-repeating doc drops wholesale, a
    # cross-doc quote is cut from both carriers, clean docs untouched
    quote = "one two three four five six seven eight nine ten eleven twelve"
    span_docs = spark.createDataFrame(
        [
            (1, "unique opening words here then " + quote + " closing part"),
            (2, quote + " with a different unique continuation afterwards"),
            (3, ("repeat phrase alpha beta gamma delta epsilon zeta ") * 3),
            (4, "completely independent document with its own vocabulary"),
        ],
        "doc_id long, text string",
    )
    clean_b, stats_b = curate(
        span_docs,
        span_k=8,
        span_max_ratio=0.8,
        exact=False,
        neardup_threshold=None,
        scrub_pii=False,
    )
    assert stats_b["span_policy"] == 3           # doc 3 dropped wholesale
    rows_b = {r["doc_id"]: r["text"] for r in clean_b.collect()}
    assert set(rows_b) == {1, 2, 4}
    assert quote not in rows_b[1] and quote not in rows_b[2]
    assert rows_b[4] == "completely independent document with its own vocabulary"


def test_winnowing_matches_naive_reference(spark):
    """Randomized differential for p16's operator: Spark's
    zip-of-shifted-slices winnowing (md5 arm, the engine-reproducible
    one) vs a pure-Python reference implementing Schleimer et al.'s
    window-minimum selection directly."""
    import hashlib
    import random
    import re

    rng = random.Random(321)
    vocab = [f"w{i}" for i in range(15)]
    shared = [" ".join(rng.choice(vocab) for _ in range(6)) for _ in range(4)]
    docs = []
    for d in range(80):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
        text = " ".join(words)
        if rng.random() < 0.4:
            text = text + " " + rng.choice(shared)
        docs.append((d, text if rng.random() > 0.05 else None))
    K, W = 3, 4

    def naive_fps(t):
        toks = [w for w in re.split(r"\s+", t.lower()) if w] if t else []
        grams = [
            hashlib.md5(" ".join(toks[i : i + K]).encode()).hexdigest()
            for i in range(len(toks) - K + 1)
        ]
        if not grams:
            return set()
        if len(grams) < W:
            return {min(grams)}
        return {min(grams[i : i + W]) for i in range(len(grams) - W + 1)}

    def naive_pairs(min_shared):
        fps = {d: naive_fps(t) for d, t in docs}
        out = {}
        ids = sorted(fps)
        for x in ids:
            for y in ids:
                if x < y:
                    n = len(fps[x] & fps[y])
                    if n >= min_shared:
                        out[(x, y)] = n
        return out

    from cloudfabric_eventsourcing_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_overlap_pairs,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got_fps = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnowing_fingerprints(df, k=K, window=W, hash="md5").collect()
    }
    assert got_fps == {d: naive_fps(t) for d, t in docs}
    got_pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnowing_overlap_pairs(
            df, k=K, window=W, min_shared=1, hash="md5"
        ).collect()
    }
    assert got_pairs == naive_pairs(1)


def test_repetition_stats(spark):
    from cloudfabric_eventsourcing_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),          # one distinct trigram, 3 total
            (2, "the quick brown fox jumps"),          # all trigrams distinct
            (3, "a b"),                                # shorter than n -> guarded zero
            (4, ""),                                   # empty -> guarded zero
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["n_distinct"] == 1
    assert out[1]["repetition_ratio"] == 1 - 1 / 3
    assert out[2]["n_grams"] == 3 and out[2]["n_distinct"] == 3
    assert out[2]["repetition_ratio"] == 0.0
    for short in (3, 4):
        assert out[short]["n_grams"] == 0
        assert out[short]["repetition_ratio"] == 0.0
    # scale shape: pure Column expressions, no Python eval in the plan
    plan = repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_remove_boilerplate_lines(spark):
    from cloudfabric_eventsourcing_spark.operators.text import (
        remove_boilerplate_lines,
    )

    banner = "subscribe now"
    footer = "all rights reserved"
    df = spark.createDataFrame(
        [
            (1, f"{banner}\nunique one\n{footer}"),
            (2, f"{banner}\nunique two"),
            (3, f"unique three\n{footer}"),
            (4, f"{banner}\n{footer}"),           # nothing but boilerplate
            (5, "unique five\nunique five bis"),  # untouched, order kept
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["clean"] for r in remove_boilerplate_lines(df, min_docs=3).collect()}
    assert out[1] == "unique one"
    assert out[2] == "unique two"
    assert out[3] == "unique three"
    assert out[4] == ""                        # fully-boilerplate doc survives as empty
    assert out[5] == "unique five\nunique five bis"
    # a min_docs above every line's frequency is the identity
    ident = {r["doc_id"]: r["clean"] for r in remove_boilerplate_lines(df, min_docs=10).collect()}
    assert ident == {r["doc_id"]: r["text"] for r in df.collect()}
    # scale shape: frequent set broadcasts into the anti join; no Python eval
    plan = remove_boilerplate_lines(df, min_docs=3)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_offsets_two_phase_prefix(spark):
    from cloudfabric_eventsourcing_spark.operators.packing import (
        global_prefix_sum,
        pack_offsets,
    )
    from pyspark.sql import Window
    import pyspark.sql.functions as F

    rows = [(i, (i * 37) % 90) for i in range(200)]
    rows[7] = (7, 0)    # empty doc mid-stream
    rows[0] = (0, 0)    # empty doc at the very start
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")

    # bucket_size=16 -> 13 buckets: cross-bucket stitching must equal the
    # naive single-window cumsum
    two_phase = global_prefix_sum(
        df, "n_tokens", "doc_id", out="cum", bucket_size=16
    )
    naive = df.withColumn(
        "cum",
        F.sum("n_tokens").over(
            Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert sorted(map(tuple, two_phase.collect())) == sorted(
        map(tuple, naive.collect())
    )

    packed = {
        r["doc_id"]: r
        for r in pack_offsets(df, ctx_len=64, bucket_size=16).collect()
    }
    # contiguity: each doc starts where the previous ended
    ends = {d: packed[d]["start_offset"] + packed[d]["n_tokens"] for d in packed}
    for d in range(1, 200):
        assert packed[d]["start_offset"] == ends[d - 1]
    # chunk span matches offsets; empty docs pin last_chunk == first_chunk
    for d, r in packed.items():
        assert r["first_chunk"] == r["start_offset"] // 64
        if r["n_tokens"] == 0:
            assert r["last_chunk"] == r["first_chunk"]
        else:
            assert r["last_chunk"] == (r["start_offset"] + r["n_tokens"] - 1) // 64
            assert r["last_chunk"] >= r["first_chunk"]

    # scale shape: two Window nodes; the within-bucket cumsum is
    # partitioned by _bucket (the only unpartitioned ordered window runs
    # over the tiny per-bucket totals frame), offsets broadcast back
    plan = (
        global_prefix_sum(df, "n_tokens", "doc_id", bucket_size=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") == 2
    assert "windowspecdefinition(_bucket" in plan
    assert "Broadcast" in plan


# ---- connected components / duplicate clusters ----------------------------

def test_connected_components_known_graph(spark):
    from cloudfabric_eventsourcing_spark.operators import graph

    # two components {1,2,3,4} (chain) and {10,11}, plus self-contained 20-20
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 20)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in graph.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain_converges(spark):
    from cloudfabric_eventsourcing_spark.operators import graph

    # a 200-node path — worst case for plain min-label propagation
    # (diameter 199, far beyond the 20-round default budget); pointer
    # jumping doubles reach per round, so O(log d) rounds suffice and
    # the default budget must now finish it exactly
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in graph.connected_components(edges).collect()
    }
    assert got == {i: 0 for i in range(200)}


def test_connected_components_string_ids(spark):
    from cloudfabric_eventsourcing_spark.operators import graph

    # string doc ids: the sum-of-labels convergence probe this replaces
    # returned NULL on non-numeric ids and silently stopped after ONE
    # propagation round — a 4-chain needs three, so labels would have
    # been 1-hop minima, not components
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")],
        ["id_a", "id_b"],
    )
    got = {
        r["node"]: r["component"]
        for r in graph.connected_components(edges).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x",
    }


def test_duplicate_clusters_match_exact_pairs(spark, docs):
    from cloudfabric_eventsourcing_spark.operators import graph

    # clusters over LSH pairs == clusters over the exact O(N^2) pair scan
    # (verified LSH output equals the exact pair set on this corpus)
    lsh_pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9, num_perm=128, bands=32)
    exact_pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.9, n=1)
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in graph.duplicate_clusters(lsh_pairs).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in graph.duplicate_clusters(exact_pairs).collect()
    }
    assert got == want
    # every cluster id is a member of its own cluster (canonical rep)
    by_cluster = {}
    for doc, cl in got:
        by_cluster.setdefault(cl, set()).add(doc)
    for cl, members in by_cluster.items():
        assert cl in members and cl == min(members)


# ---- vocab top-k ----------------------------------------------------------

def test_vocab_topk_plan_uses_take_ordered(spark, docs):
    from cloudfabric_eventsourcing_spark.operators.text import vocab_topk

    df = vocab_topk(docs, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # global top-k must be per-partition heaps + driver merge, never a
    # global sort of the vocabulary
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert len(rows) == 10
    # descending counts with token-asc tiebreak
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)


# ---- behavior analytics / train shuffle -----------------------------------

def test_funnel_single_scan_no_self_join(spark, sf_dir):
    from cloudfabric_eventsourcing_spark.operators import behavior

    events = load_table(spark, sf_dir, "events")
    df = behavior.funnel(
        events, "user_id", "ts", "event_type", "signup", "purchase", 7
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the anchor is a window over the user partition, not an
    # aggregate-join — exactly one scan of the event log
    assert plan.count("events.parquet") == 1
    row = df.collect()[0]
    assert 0 <= row["n_converted"] <= row["n_entered"]
    assert 0.0 <= row["conversion_rate"] <= 1.0


def test_retention_cohort_never_precedes_activity(spark, sf_dir):
    from cloudfabric_eventsourcing_spark.operators import behavior

    events = load_table(spark, sf_dir, "events")
    rows = behavior.retention_cohorts(
        events, "user_id", "ts", granularity="week"
    ).collect()
    assert rows
    for r in rows:
        assert r["cohort_period"] <= r["activity_period"]


def test_deterministic_shuffle_is_permutation_and_two_phase(spark, sf_dir):
    from cloudfabric_eventsourcing_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.deterministic_shuffle(docs, id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    # exactly two Window nodes: the tiny bucket-offset prefix and the
    # within-bucket ranking — never an unpartitioned global row_number
    # over the corpus
    assert final.count("Window") == 2
    n = docs.count()
    positions = sorted(r["position"] for r in out.collect())
    assert positions == list(range(n))
    # salt draws a different permutation
    salted = {
        r["doc_id"]: r["position"]
        for r in sampling.deterministic_shuffle(docs, "doc_id", salt="s1").collect()
    }
    base = {r["doc_id"]: r["position"] for r in out.collect()}
    assert salted != base


def test_ivf_index_roundtrip_prunes_partitions(spark, emb, tmp_path):
    idx = str(tmp_path / "ivf_idx")
    dims = len(emb.select("embedding").first()[0])
    cents = similarity.ivf_centroids_from_sample(emb, n_cells=8)
    similarity.save_ivf_index(emb, cents, idx)
    vectors, cents2 = similarity.load_ivf_index(spark, idx)
    assert cents2.shape == cents.shape and bool((cents2 == cents).all())

    q = [float(x) for x in emb.select("embedding").first()[0]]
    got = similarity.ivf_topk(vectors, cents2, q, k=5, nprobe=4).collect()
    # same results as the in-memory assignment path
    want = similarity.ivf_topk(
        similarity.ivf_assign(emb, cents), cents, q, k=5, nprobe=4
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # the probe must reach the file listing as a partition filter, not a
    # post-scan predicate
    df = similarity.ivf_topk(vectors, cents2, q, k=5, nprobe=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan.replace("PartitionFilters: [ce", "PartitionFilters: [ce")
    assert "cell#" in plan.split("PartitionFilters")[1][:200]


@pytest.mark.slow
def test_ivf_index_append_grows_searchable_corpus(spark, emb, tmp_path):
    """append_to_ivf_index assigns NEW vectors to the existing
    centroids: an appended vector becomes its own nearest neighbor in a
    post-append query, and old results are unchanged."""
    idx = str(tmp_path / "ivf_idx_app")
    base = emb.orderBy("vec_id").limit(200)
    extra = emb.orderBy("vec_id").limit(230).subtract(base)
    cents = similarity.ivf_centroids_from_sample(base, n_cells=8)
    similarity.save_ivf_index(base, cents, idx)
    similarity.append_to_ivf_index(extra, idx)
    vectors, cents2 = similarity.load_ivf_index(spark, idx)
    assert vectors.count() == 230
    # appended rows landed in the SAME cells ivf_assign computes —
    # this is the assertion that catches a broken assignment (a
    # probe-all-cells top-k query would pass regardless)
    got_cells = {
        r["vec_id"]: r["cell"]
        for r in vectors.join(
            extra.select("vec_id"), "vec_id", "left_semi"
        ).select("vec_id", "cell").collect()
    }
    want_cells = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign(extra, cents)
        .select("vec_id", "cell")
        .collect()
    }
    assert got_cells == want_cells and len(got_cells) == 30
    # an appended vector is its own nearest neighbor probing FEWER than
    # all cells (nprobe < n_cells, so pruning is actually exercised)
    probe = extra.orderBy("vec_id").first()
    q = [float(x) for x in probe["embedding"]]
    got = similarity.ivf_topk(vectors, cents2, q, k=1, nprobe=2).collect()
    assert got[0]["vec_id"] == probe["vec_id"]
    # re-appending the same batch with skip_existing is a no-op
    similarity.append_to_ivf_index(extra, idx, skip_existing=True)
    assert spark.read.parquet(f"{idx}/vectors").count() == 230


def _parquet_files(d):
    import glob as _glob

    return _glob.glob(f"{d}/*.parquet")


def _partition_dirs(d):
    import glob as _glob

    return [p for p in _glob.glob(f"{d}/*=*") if os.path.isdir(p)]


@pytest.mark.slow
def test_compact_minhash_index(spark, docs, tmp_path):
    """N appends leave N files per band partition; compact_index folds
    each to one file and the probe's pair set is byte-identical."""
    from cloudfabric_eventsourcing_spark.operators.index_maintenance import (
        compact_index,
    )

    path = str(tmp_path / "mh_compact")
    ordered = docs.orderBy("doc_id").select("doc_id", "text")
    dedup.save_minhash_index(ordered.limit(60), path)
    for lo in (60, 80):
        extra = ordered.limit(lo + 20).subtract(ordered.limit(lo))
        dedup.save_minhash_index(extra, path, mode="append")
    probe = ordered.limit(3).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    before = sorted(
        tuple(r) for r in dedup.dedup_against_index(probe, path).collect()
    )
    assert len(before) >= 3
    band_parts = _partition_dirs(f"{path}/bands")
    assert any(len(_parquet_files(p)) > 1 for p in band_parts)
    assert len(_parquet_files(f"{path}/grams")) > 1
    report = compact_index(spark, path)
    assert all(len(_parquet_files(p)) <= 1 for p in band_parts)
    assert len(_parquet_files(f"{path}/grams")) == 1
    assert report["bands"]["partitions_compacted"] > 0
    assert report["grams"]["files_after"] == 1
    after = sorted(
        tuple(r) for r in dedup.dedup_against_index(probe, path).collect()
    )
    assert after == before
    # idempotent: a second compact touches nothing
    report2 = compact_index(spark, path)
    assert report2["bands"]["partitions_compacted"] == 0
    assert report2["grams"]["partitions_compacted"] == 0


@pytest.mark.slow
def test_compact_index_recovers_from_mid_swap_crash(
    spark, docs, tmp_path, monkeypatch
):
    """A crash between the compacted-file rename-in and the fragment
    unlink leaves a directory holding every row twice; without repair,
    the NEXT compaction would read fragments + compacted copy and bake
    the duplicates into one file permanently.  The intent marker makes
    the half-finished swap roll forward instead."""
    from cloudfabric_eventsourcing_spark import commit
    from cloudfabric_eventsourcing_spark.operators import (
        index_maintenance as im,
    )

    path = str(tmp_path / "mh_crash")
    ordered = docs.orderBy("doc_id").select("doc_id", "text")
    dedup.save_minhash_index(ordered.limit(60), path)
    extra = ordered.limit(80).subtract(ordered.limit(60))
    dedup.save_minhash_index(extra, path, mode="append")
    grams_dir = f"{path}/grams"
    truth = sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    )
    assert len(_parquet_files(grams_dir)) > 1

    # crash simulation: the first unlink INSIDE the grams dir raises —
    # the moves and the marker have landed, the fragments have not gone
    real_unlink = os.unlink

    def crashing_unlink(p):
        if os.path.dirname(p) == grams_dir and p.endswith(".parquet"):
            raise OSError("simulated crash")
        real_unlink(p)

    monkeypatch.setattr(commit.os, "unlink", crashing_unlink)
    with pytest.raises(OSError, match="simulated crash"):
        im._rewrite_dir(spark, grams_dir, 1)
    monkeypatch.setattr(commit.os, "unlink", real_unlink)

    # post-crash state: fragments + compacted copy + marker; a reader
    # sees transient duplicates (documented), never a partial dataset
    assert os.path.exists(os.path.join(grams_dir, commit._MARKER))
    dup_rows = sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    )
    assert len(dup_rows) == 2 * len(truth)

    # recovery: compact_index repairs first, so the result is the TRUE
    # row set in one file — not the doubled set
    report = im.compact_index(spark, path)
    assert not os.path.exists(os.path.join(grams_dir, commit._MARKER))
    assert len(_parquet_files(grams_dir)) == 1
    recovered = sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    )
    assert recovered == truth
    assert report["grams"]["files_after"] == 1

    # orphan staging dirs (crash before the marker landed) are swept
    junk = os.path.join(
        _partition_dirs(f"{path}/bands")[0], f"{commit._STAGING}junk"
    )
    os.makedirs(junk)
    im.compact_index(spark, path)
    assert not os.path.exists(junk)


def test_compaction_tmp_dirs_invisible_to_partition_discovery(
    spark, docs, tmp_path
):
    """An in-flight compaction tmp dir inside a partitioned dataset must
    not surface as a bogus partition: it is dot-prefixed, so Spark's
    listing skips it and the partition column keeps its inferred type."""
    import shutil

    path = str(tmp_path / "mh_tmpvis")
    dedup.save_minhash_index(
        docs.orderBy("doc_id").select("doc_id", "text").limit(60), path
    )
    bands_dir = f"{path}/bands"
    before = spark.read.parquet(bands_dir)
    before_rows = before.count()
    assert dict(before.dtypes)["bi"] == "int"
    # simulate a concurrent compaction mid-write: a hidden tmp dir whose
    # name embeds the partition spelling, holding a real parquet file
    part = _partition_dirs(bands_dir)[0]
    tmp = os.path.join(bands_dir, f".tmp-compact-{os.path.basename(part)}-7")
    os.makedirs(tmp)
    shutil.copy(_parquet_files(part)[0], os.path.join(tmp, "part-0.parquet"))
    after = spark.read.parquet(bands_dir)
    assert dict(after.dtypes)["bi"] == "int"  # no string fallback
    assert after.count() == before_rows  # tmp rows invisible


def test_concurrent_compact_index_keeps_every_row(spark, tmp_path, monkeypatch):
    """A second compact_index on the same index starts while the first
    sits between its staged write and its intent marker.  The second
    one's recovery sweep must not delete the first one's staging dir —
    the first would then commit an empty move list and unlink every
    fragment.  Compactions of one index serialize on the index's
    maintenance lock, so the second waits and the rows survive."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    from cloudfabric_eventsourcing_spark.operators.index_maintenance import (
        compact_index,
    )

    path = str(tmp_path / "idx_concurrent")
    grams_dir = f"{path}/grams"
    spark.range(80).repartition(8).write.parquet(grams_dir)
    truth = sorted(r["id"] for r in spark.read.parquet(grams_dir).collect())
    assert len(_parquet_files(grams_dir)) == 8

    second = {}

    def run_second():
        try:
            # rewrites nothing; only recovers and sweeps
            second["report"] = compact_index(spark, path, max_fragments=10**6)
        except Exception as e:  # surfaced by the assert below
            second["error"] = e

    other = threading.Thread(target=run_second, daemon=True)
    real_parquet = DataFrameWriter.parquet

    def paused_parquet(self, out, *args, **kwargs):
        real_parquet(self, out, *args, **kwargs)
        if "grams" in out and "started" not in second:
            # staged write done, marker not yet written: start the
            # second compaction and give it time to sweep
            second["started"] = True
            other.start()
            other.join(timeout=3)

    monkeypatch.setattr(DataFrameWriter, "parquet", paused_parquet)
    compact_index(spark, path)
    monkeypatch.undo()
    other.join(timeout=60)
    assert second.get("started") and not other.is_alive()
    assert "error" not in second, second.get("error")
    assert sorted(r["id"] for r in spark.read.parquet(grams_dir).collect()) == truth
    assert len(_parquet_files(grams_dir)) == 1


@pytest.mark.slow
def test_sweep_respects_marker_tmp_path_spelling(
    spark, docs, tmp_path, monkeypatch
):
    """A marker-referenced staging dir must survive the orphan sweep even
    when the crashed rewrite and the recovery spell the index path
    differently (symlinked index root, redundant `/./`): the marker
    names its staging dir relative to the directory it sits in, so the
    raw-string mismatch that used to delete a live tmp — stranding the
    roll-forward in FileNotFoundError forever — cannot recur."""
    from cloudfabric_eventsourcing_spark import commit
    from cloudfabric_eventsourcing_spark.operators import (
        index_maintenance as im,
    )

    path = str(tmp_path / "mh_spelling")
    ordered = docs.orderBy("doc_id").select("doc_id", "text")
    dedup.save_minhash_index(ordered.limit(60), path)
    dedup.save_minhash_index(
        ordered.limit(80).subtract(ordered.limit(60)), path, mode="append"
    )
    grams_dir = f"{path}/grams"
    truth = sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    )
    assert len(_parquet_files(grams_dir)) > 1
    # crash right after the marker landed, rewrite spelled with `/./`
    real_rename = os.rename

    def crashing_rename(src, dst):
        if os.path.basename(os.path.dirname(src)).startswith(commit._STAGING):
            raise OSError("simulated crash")
        real_rename(src, dst)

    monkeypatch.setattr(commit.os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        im._rewrite_dir(spark, os.path.join(path, ".", "grams"), 1)
    monkeypatch.setattr(commit.os, "rename", real_rename)
    assert os.path.exists(os.path.join(grams_dir, commit._MARKER))
    # recovery through a symlinked index root rolls the swap forward:
    # the sweep did not delete the staging dir the marker references
    link = str(tmp_path / "mh_link")
    os.symlink(path, link)
    im.compact_index(spark, link)
    recovered = sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    )
    assert recovered == truth
    assert len(_parquet_files(grams_dir)) == 1
    assert not os.path.exists(os.path.join(grams_dir, commit._MARKER))


@pytest.mark.slow
def test_recover_dir_survives_missing_tmp(spark, docs, tmp_path):
    """If a marker's tmp dir is gone (external cleanup) with moves still
    outstanding, recovery must NOT roll the unlinks forward — that would
    drop the unmoved rows.  It leaves the original fragments in place
    (uncompacted but correct), clears the marker, and a later compaction
    retries from scratch instead of raising FileNotFoundError forever."""
    import json
    import shutil

    from cloudfabric_eventsourcing_spark import commit
    from cloudfabric_eventsourcing_spark.operators import (
        index_maintenance as im,
    )

    path = str(tmp_path / "mh_missingtmp")
    dedup.save_minhash_index(
        docs.orderBy("doc_id").select("doc_id", "text").limit(60), path
    )
    grams_dir = f"{path}/grams"
    truth = sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    )
    frag = _parquet_files(grams_dir)[0]
    # one move COMPLETED before the tmp dir vanished: its compacted file
    # duplicates fragment rows and must be rolled back, or the next
    # compaction bakes the duplication in permanently
    moved_in = os.path.join(grams_dir, "part-arrived-00000.parquet")
    shutil.copy(frag, moved_in)
    marker = {
        "staging": f"{commit._STAGING}gone",
        "moves": [
            ["c0.parquet", "part-arrived-00000.parquet"],
            ["c1.parquet", "part-never-arrived.parquet"],
        ],
        "old": [os.path.basename(frag)],
    }
    with open(os.path.join(grams_dir, commit._MARKER), "w") as fh:
        json.dump(marker, fh)
    commit.recover(grams_dir)  # must not raise, must not unlink frags
    assert os.path.exists(frag)
    assert not os.path.exists(moved_in)  # partial roll-forward rolled back
    assert not os.path.exists(os.path.join(grams_dir, commit._MARKER))
    survivors = sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    )
    assert survivors == truth
    # and the next full compaction works normally
    im.compact_index(spark, path)
    assert sorted(
        (r["id"],) for r in spark.read.parquet(grams_dir).collect()
    ) == truth


@pytest.mark.slow
def test_compact_cosine_index(spark, emb, tmp_path):
    from cloudfabric_eventsourcing_spark.operators.index_maintenance import (
        compact_index,
    )

    path = str(tmp_path / "cos_compact")
    ordered = emb.orderBy("vec_id").select("vec_id", "embedding")
    dims = len(ordered.select("embedding").first()[0])
    dedup.save_cosine_index(ordered.limit(100), path, dims=dims, bits=4)
    extra = ordered.limit(150).subtract(ordered.limit(100))
    dedup.save_cosine_index(extra, path, dims=dims, bits=4, mode="append")
    batch = ordered.limit(5).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    before = sorted(
        tuple(r)
        for r in dedup.cosine_dedup_against_index(
            batch, path, threshold=0.999
        ).collect()
    )
    assert len(before) >= 5
    parts = _partition_dirs(f"{path}/vectors")
    assert any(len(_parquet_files(p)) > 1 for p in parts)
    compact_index(spark, path)
    assert all(len(_parquet_files(p)) <= 1 for p in parts)
    after = sorted(
        tuple(r)
        for r in dedup.cosine_dedup_against_index(
            batch, path, threshold=0.999
        ).collect()
    )
    assert after == before


@pytest.mark.slow
def test_compact_ivf_index(spark, emb, tmp_path):
    from cloudfabric_eventsourcing_spark.operators.index_maintenance import (
        compact_index,
    )

    idx = str(tmp_path / "ivf_compact")
    base = emb.orderBy("vec_id").limit(150)
    cents = similarity.ivf_centroids_from_sample(base, n_cells=8)
    similarity.save_ivf_index(base, cents, idx)
    for lo in (150, 180):
        extra = emb.orderBy("vec_id").limit(lo + 30).subtract(
            emb.orderBy("vec_id").limit(lo)
        )
        similarity.append_to_ivf_index(extra, idx)
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    vectors, cents2 = similarity.load_ivf_index(spark, idx)
    before = [
        tuple(r)
        for r in similarity.ivf_topk(vectors, cents2, q, k=5, nprobe=4).collect()
    ]
    parts = _partition_dirs(f"{idx}/vectors")
    assert any(len(_parquet_files(p)) > 1 for p in parts)
    compact_index(spark, idx)
    assert all(len(_parquet_files(p)) <= 1 for p in parts)
    vectors2, cents3 = similarity.load_ivf_index(spark, idx)
    after = [
        tuple(r)
        for r in similarity.ivf_topk(vectors2, cents3, q, k=5, nprobe=4).collect()
    ]
    assert after == before
    assert vectors2.count() == 210
    # partition pruning still reaches the file listing post-compaction
    plan = (
        similarity.ivf_topk(vectors2, cents3, q, k=5, nprobe=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [cell" in plan


def test_corpus_report_stats(spark):
    from cloudfabric_eventsourcing_spark.operators.curation import (
        corpus_report,
    )

    df = spark.createDataFrame(
        [
            (1, "one two three", "en"),
            (2, "eins zwei", "de"),
            (3, "a b c d e", "en"),
            (4, "", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    rep = corpus_report(df, lang_col="lang")
    assert rep["n_docs"] == 4
    assert rep["total_tokens"] == 3 + 2 + 5 + 0
    assert rep["min_tokens"] == 0 and rep["max_tokens"] == 5
    assert rep["mean_tokens"] == 2.5
    assert rep["p50_tokens"] == 2.5  # exact interpolated median of 0,2,3,5
    assert rep["languages"] == {"en": 3, "de": 1}
    # heuristic language id path (no stored column)
    rep2 = corpus_report(df.drop("lang"))
    assert rep2["n_docs"] == 4 and set(rep2["languages"]) >= {"en"}


def test_curation_fluency_gate_and_shuffle_positions(spark, docs):
    """Batch-2 stages compose: the fluency floor drops the least-fluent
    docs, and shuffle_positions emits a contiguous 0-based permutation."""
    from cloudfabric_eventsourcing_spark.operators.curation import curate
    from cloudfabric_eventsourcing_spark.operators.text import fluency_scores

    # pick a floor at roughly the corpus median so the gate provably cuts
    med = fluency_scores(docs).approxQuantile("fluency", [0.5], 0.0)[0]
    curated, stats = curate(
        docs,
        neardup_threshold=None,
        exact=False,
        scrub_pii=False,
        min_fluency=med,
        shuffle_positions=True,
    )
    assert 0 < stats["fluency_gate"] < stats["input"]
    rows = curated.collect()
    positions = sorted(r["position"] for r in rows)
    assert positions == list(range(len(rows)))
    assert len(rows) == stats["fluency_gate"]


@pytest.mark.slow
def test_curate_with_persisted_index_drops_corpus_dups(spark, docs, tmp_path):
    """curate(dedup_index_path=...) = incremental batch mode: documents
    near-duplicating the persisted corpus index are dropped after the
    batch's own dedup stages."""
    from cloudfabric_eventsourcing_spark.operators.curation import curate

    path = str(tmp_path / "corpus_idx")
    corpus = docs.limit(50).select("doc_id", "text")
    dedup.save_minhash_index(corpus, path)
    batch = (
        corpus.limit(3)
        .select((F.col("doc_id") + 70000).alias("doc_id"), "text")
        .unionByName(
            spark.createDataFrame(
                [(80000, "wholly new text about gradient checkpointing")],
                ["doc_id", "text"],
            )
        )
    )
    out, stats = curate(
        batch, neardup_threshold=0.9, exact=False, scrub_pii=False,
        dedup_index_path=path,
    )
    assert {r["doc_id"] for r in out.collect()} == {80000}
    assert stats["corpus_dedup"] == 1 and stats["neardup"] >= 4
    # the whole dict as the count-per-stage implementation (commit
    # df1ef89) gave it
    assert stats == {"input": 4, "neardup": 4, "corpus_dedup": 1, "output": 1}


def test_curation_fluency_gate_scores_short_docs_zero(spark):
    """Docs with < 2 tokens have no bigrams; the gate scores them 0 so
    the threshold decides: min_fluency=0 keeps them (the old left-semi
    join dropped them unconditionally), any positive floor drops them."""
    from cloudfabric_eventsourcing_spark.operators.curation import curate

    df = spark.createDataFrame(
        [(1, "one"), (2, ""), (3, "the quick fox"), (4, "the quick dog")],
        ["doc_id", "text"],
    )
    kw = dict(neardup_threshold=None, exact=False, scrub_pii=False)
    kept0, _ = curate(df, min_fluency=0.0, **kw)
    assert sorted(r["doc_id"] for r in kept0.collect()) == [1, 2, 3, 4]
    kept1, _ = curate(df, min_fluency=0.5, **kw)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [3, 4]


def _curate_pin_corpus(spark):
    """12 docs that give every cheap curate stage something to drop: a
    canonical-URL duplicate (2), a self-repeating doc (5), a quote shared
    by two docs (3, 4), an exact copy (7), a one-token doc (8) and a
    doc of unique bigrams (11); three sources for stratified sampling."""

    def text(i):
        return (
            f"the data system is fast u{i}a and the model is small u{i}b "
            f"for the team u{i}c"
        )

    quote = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (1, "http://a.com/x", "web", text(1)),
        (2, "HTTP://WWW.A.com:80/x", "web", text(2)),
        (3, "http://b.com/q", "web",
         "the data system is fast u3a " + quote + " for the team u3c"),
        (4, "http://c.com/q", "web",
         quote + " and the model is small u4b for the team u4c"),
        (5, "http://d.com/r", "web",
         "repeat phrase alpha beta gamma delta epsilon zeta " * 3),
        (6, "http://e.com/1", "books", text(6)),
        (7, "http://e.com/2", "books", text(6)),
        (8, "http://e.com/3", "books", "lonely"),
        (9, None, "books", text(9)),
        (10, None, "forum", text(10)),
        (11, "http://f.com/", "forum", "zzq xqv kwp"),
        (12, "http://g.com/", "forum", text(12)),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, url string, source string, text string"
    )


def test_curate_stats_equal_per_stage_counts(spark):
    """curate() fills its stats from observed metrics of one action; the
    dicts must equal what a count() after every stage gives.  Every
    literal here was captured from the count-per-stage implementation at
    commit df1ef89 on these inputs.  Covers the stages no other default
    test pins (url_deduped, span_policy, fluency_gate, sampled, output
    after shuffle_positions), a gate that empties the corpus mid-way,
    and an empty input, whose metric nodes the optimizer prunes under
    empty joins."""
    from cloudfabric_eventsourcing_spark.operators.curation import curate

    docs = _curate_pin_corpus(spark)
    base = dict(url_col="url", neardup_threshold=None, scrub_pii=False)

    out, stats = curate(
        docs, span_k=8, exact=False, min_fluency=1.5, sample_per_stratum=2,
        sample_strata="source", shuffle_positions=True, **base,
    )
    assert stats == {
        "input": 12, "url_deduped": 11, "span_policy": 8,
        "fluency_gate": 6, "sampled": 5, "output": 5,
    }
    rows = out.collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 4, 9, 10, 12]
    assert sorted(r["position"] for r in rows) == [0, 1, 2, 3, 4]

    out, stats = curate(docs, min_fluency=1.5, shuffle_positions=True, **base)
    assert stats == {
        "input": 12, "url_deduped": 11, "exact_dedup": 10,
        "fluency_gate": 8, "output": 8,
    }
    assert sorted(r["doc_id"] for r in out.collect()) == [
        1, 3, 4, 5, 6, 9, 10, 12,
    ]

    _, stats = curate(
        docs, min_quality=2.0, decontaminate_against=docs.limit(1),
        decontaminate_n=3, **base,
    )
    assert stats == {
        "input": 12, "url_deduped": 11, "exact_dedup": 10,
        "quality_gate": 0, "decontaminated": 0, "output": 0,
    }

    out, stats = curate(
        docs.where(F.col("doc_id") < 0), boilerplate_min_docs=2,
        neardup_threshold=None, min_fluency=0.1,
    )
    assert stats == {
        "input": 0, "boilerplate_stripped": 0, "exact_dedup": 0,
        "fluency_gate": 0, "output": 0,
    }
    assert out.collect() == []


def test_curate_stats_cost_one_pass(spark):
    """Stats cost one materializing action, not one pass per stage: a
    stats-on curate() plus the caller's collect() submits at most one
    job more than a stats-off curate() plus collect(), and the stats-off
    call submits none.  The action carries a "curate: <stages>" job
    description and the caller's description comes back afterwards.
    Two stats-on outputs union without a metric-name clash, and a freshly
    fitted quality model still scores afterwards (no session state that
    breaks task serialization)."""
    import uuid

    from cloudfabric_eventsourcing_spark.operators.classify import (
        score_quality,
        train_quality_classifier,
    )
    from cloudfabric_eventsourcing_spark.operators.curation import curate

    sc = spark.sparkContext
    docs = _curate_pin_corpus(spark)
    model = train_quality_classifier(
        docs.where(F.col("source") != "forum"),
        docs.where(F.col("source") == "forum"),
        num_features=1 << 10,
        max_iter=5,
    )
    kw = dict(boilerplate_min_docs=4, neardup_threshold=None)

    def jobs(fn):
        group = uuid.uuid4().hex
        sc.setJobGroup(group, "caller's description")
        try:
            result = fn()
            assert sc.getLocalProperty("spark.job.description") == (
                "caller's description"
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        return result, list(sc.statusTracker().getJobIdsForGroup(group))

    (lazy, lazy_stats), lazy_call = jobs(
        lambda: curate(docs, collect_stats=False, **kw)
    )
    assert lazy_call == [] and lazy_stats == {}
    lazy_ids, lazy_collect = jobs(
        lambda: sorted(r[0] for r in lazy.collect())
    )

    (done, stats), call = jobs(lambda: curate(docs, **kw))
    ids, collect = jobs(lambda: sorted(r[0] for r in done.collect()))
    assert ids == lazy_ids
    assert stats == {
        "input": 12, "boilerplate_stripped": 12, "exact_dedup": 11,
        "output": 11,
    }
    assert len(call) + len(collect) <= len(lazy_call) + len(lazy_collect) + 1

    store = sc._jsc.sc().statusStore()
    descriptions = {store.job(j).description().get() for j in call}
    assert descriptions == {
        "curate: input, boilerplate_stripped, exact_dedup, output"
    }

    again, _ = curate(docs, **kw)
    assert done.unionByName(again).count() == 2 * len(ids)
    scored = score_quality(docs, model, out_col="q").collect()
    assert len(scored) == 12 and all(0.0 <= r["q"] <= 1.0 for r in scored)


def test_write_training_shards_roundtrip(spark, docs, tmp_path):
    from cloudfabric_eventsourcing_spark.operators import sampling
    from cloudfabric_eventsourcing_spark.operators.packing import (
        write_training_shards,
    )

    out = str(tmp_path / "shards")
    shuffled = sampling.deterministic_shuffle(docs, id_col="doc_id")
    n_docs = docs.count()
    n_shards = write_training_shards(shuffled, out, docs_per_shard=128)
    assert n_shards == (n_docs - 1) // 128 + 1
    back = spark.read.parquet(out)
    # dense, equal shards (last one ragged)
    sizes = {r["shard"]: r["n"] for r in back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(sizes) == set(range(n_shards))
    assert all(v == 128 for k, v in sizes.items() if k < n_shards - 1)
    # global order reconstructs from shard-order + file order per shard
    rows = back.orderBy("shard", "position").select("position").collect()
    assert [r["position"] for r in rows] == list(range(n_docs))


@pytest.mark.slow
def test_ivf_index_report_flags_drifted_append(spark, emb, tmp_path):
    """ivf_index_report is the retrain signal append_to_ivf_index's
    docstring promises: a drifted append (vectors far from every trained
    centroid, landing in one cell) shows up as rising imbalance, a
    falling cosine-to-own-centroid, and per-cell file growth — and
    compact_index folds the files without touching the metrics."""
    import numpy as np

    idx = str(tmp_path / "ivf_drift")
    base = emb.orderBy("vec_id").limit(200)
    cents = similarity.ivf_centroids_from_sample(base, n_cells=8)
    similarity.save_ivf_index(base, cents, idx)
    r1 = similarity.ivf_index_report(spark, idx)
    assert r1["n_cells"] == 8 and r1["total_vectors"] == 200
    assert r1["max_files_per_cell"] >= 1
    assert 0 < r1["mean_cos_to_centroid"] <= 1.0

    # drifted batch: a unit vector from the centroids' null space (cos ~0
    # to every trained centroid) plus a small pull toward centroid 0 so
    # the whole batch lands in ONE cell — local drift, the worst shape
    c = np.asarray(cents, dtype=np.float64)
    _, _, vt = np.linalg.svd(c)
    v_orth = vt[-1]  # orthogonal to all 8 centroids (64 dims >> 8)
    c0 = c[0] / np.linalg.norm(c[0])
    rows = []
    for i in range(100):
        v = v_orth.copy()
        v[i % 64] += 1e-4 * (i + 1)  # deterministic de-duplication jitter
        v = v + 0.2 * c0
        rows.append((100_000 + i, [float(x) for x in v]))
    drifted = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    similarity.append_to_ivf_index(drifted, idx)

    r2 = similarity.ivf_index_report(spark, idx)
    assert r2["total_vectors"] == 300
    assert r2["imbalance"] > r1["imbalance"]
    assert r2["mean_cos_to_centroid"] < r1["mean_cos_to_centroid"]
    assert r2["min_cell_mean_cos"] < r1["min_cell_mean_cos"]
    # the append wrote a second file into the touched cell
    assert r2["max_files_per_cell"] >= 2
    # the drifted mass concentrated: some cell grew by the whole batch
    assert r2["max_cell"] >= r1["max_cell"] + 100 or r2["max_cell"] >= 100

    # compaction folds files, changes no statistic
    from cloudfabric_eventsourcing_spark.operators.index_maintenance import (
        compact_index,
    )

    compact_index(spark, idx)
    r3 = similarity.ivf_index_report(spark, idx)
    assert r3["max_files_per_cell"] == 1
    for k in ("total_vectors", "imbalance", "min_cell", "max_cell"):
        assert r3[k] == r2[k], k
    assert abs(r3["mean_cos_to_centroid"] - r2["mean_cos_to_centroid"]) < 1e-9


@pytest.mark.slow
def test_retrain_ivf_index_recovers_drift(spark, emb, tmp_path):
    """retrain_ivf_index closes the IVF lifecycle: after a drifted
    append, retraining from the stored vectors restores assignment
    quality (cos-to-own-centroid back up, worst cell no longer ~0),
    keeps every vector, and is blue/green — the live index is untouched
    and an in-place rewrite is refused."""
    import numpy as np

    idx = str(tmp_path / "ivf_live")
    base = emb.orderBy("vec_id").limit(200)
    cents = similarity.ivf_centroids_from_sample(base, n_cells=8)
    similarity.save_ivf_index(base, cents, idx)

    # same drift shape as the report test: a null-space direction, the
    # whole batch landing in one cell
    c = np.asarray(cents, dtype=np.float64)
    _, _, vt = np.linalg.svd(c)
    v_orth = vt[-1]
    c0 = c[0] / np.linalg.norm(c[0])
    rows = []
    for i in range(100):
        v = v_orth.copy()
        v[i % 64] += 1e-4 * (i + 1)
        v = v + 0.2 * c0
        rows.append((100_000 + i, [float(x) for x in v]))
    similarity.append_to_ivf_index(
        spark.createDataFrame(rows, "vec_id bigint, embedding array<float>"),
        idx,
    )
    drifted = similarity.ivf_index_report(spark, idx)

    with pytest.raises(ValueError, match="blue/green"):
        similarity.retrain_ivf_index(spark, idx, idx)

    out = str(tmp_path / "ivf_retrained")
    new_cents = similarity.retrain_ivf_index(spark, idx, out)
    assert new_cents.shape[0] == 8
    retrained = similarity.ivf_index_report(spark, out)

    # every vector carried over; the live index is untouched
    assert retrained["total_vectors"] == drifted["total_vectors"] == 300
    assert similarity.ivf_index_report(spark, idx)["cells"] == (
        drifted["cells"]
    )
    # retraining gives the drifted mass its own centroid(s): the worst
    # cell's assignment quality recovers and the global mean improves
    assert retrained["min_cell_mean_cos"] > drifted["min_cell_mean_cos"]
    assert (
        retrained["mean_cos_to_centroid"] > drifted["mean_cos_to_centroid"]
    )

    # the retrained index answers queries: a drifted vector's neighbors
    # come from its own family (brute-force agreement on the top hit)
    q = [float(x) for x in rows[0][1]]
    vectors, cents2 = similarity.load_ivf_index(spark, out)
    approx = similarity.ivf_topk(
        vectors, cents2, q, k=5, nprobe=2
    ).collect()
    exact = similarity.brute_force_topk(
        vectors.drop("cell"), q, k=5
    ).collect()
    assert approx[0]["vec_id"] == exact[0]["vec_id"]


def test_corpus_report_approximate(spark, docs):
    """corpus_report(approximate=True) swaps exact percentiles for the
    mergeable approx_percentile sketch (the 100 TB opt-out — exact
    global percentiles funnel one value per doc into a single-reducer
    sort); every other field is identical, and at default accuracy on a
    small corpus the percentiles agree with exact to the row."""
    from cloudfabric_eventsourcing_spark.operators.curation import corpus_report

    exact = corpus_report(docs)
    approx = corpus_report(docs, approximate=True)
    for k in ("n_docs", "total_tokens", "min_tokens", "max_tokens",
              "mean_tokens", "languages"):
        assert approx[k] == exact[k], k
    # approx_percentile returns an observed value; allow the adjacent-rank
    # wiggle at sketch accuracy, which on 500 docs is ~exact
    for k in ("p50_tokens", "p90_tokens", "p99_tokens"):
        assert abs(approx[k] - exact[k]) <= max(2.0, 0.02 * exact[k]), k


def test_invalidate_table_cache(spark, tmp_path):
    """load_table memoizes analyzed plans (bench plan-build win); a
    caller that rewrites a table in the same application must be able to
    drop the stale entry — prefix-scoped or wholesale."""
    from cloudfabric_eventsourcing_spark.sources import (
        invalidate_table_cache,
        load_table,
    )

    d = str(tmp_path)
    spark.range(5).toDF("x").write.parquet(f"{d}/t.parquet")
    df1 = load_table(spark, d, "t")
    assert load_table(spark, d, "t") is df1  # memoized
    spark.range(9).toDF("x").write.mode("overwrite").parquet(f"{d}/t.parquet")
    assert invalidate_table_cache(f"{d}/t.parquet") == 1
    df2 = load_table(spark, d, "t")
    assert df2 is not df1 and df2.count() == 9
    # path-scoped invalidation leaves unrelated entries alone
    spark.range(3).toDF("x").write.parquet(f"{d}/u.parquet")
    load_table(spark, d, "u")
    assert invalidate_table_cache(f"{d}/t.parquet") == 1
    assert invalidate_table_cache(f"{d}/t.parquet") == 0
    # prefix matching is path-boundary-aware: invalidating .../sf1 must
    # not drop .../sf10 entries that share the string prefix
    for sub in ("sf1", "sf10"):
        os.makedirs(f"{d}/{sub}", exist_ok=True)
        spark.range(2).toDF("x").write.parquet(f"{d}/{sub}/v.parquet")
        load_table(spark, f"{d}/{sub}", "v")
    assert invalidate_table_cache(f"{d}/sf1") == 1  # not 2
    assert invalidate_table_cache(f"{d}/sf10") == 1
    assert invalidate_table_cache() >= 1  # full clear takes the rest


def test_quality_score_exact_at_round_half_ties(spark):
    """quality_score tie-boundary pin: the alpha term 0.3*L/N lands
    EXACTLY on a .00005 rounding boundary whenever 6000*L is an odd
    multiple of N (here N=400, any odd L) — the float round(sum, 4)
    form resolved these ties differently per engine (57 of 50k docs at
    sf1, caught by tools/verify_at_scale.py).  The integer form defines
    them: half-up, computed in exact integer ten-thousandths.

    Doc construction: 400 chars, 41 letters (alpha term 307.5 -> 308
    half-up), 2 whitespace tokens (mean word length 20.5 > 10 -> 0.6
    band), no punctuation.  q4 = (3*10000 + 2*10000 + 2*6000)/10 + 308
    = 6508 -> 0.6508 exactly."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        with_quality_score,
    )

    text = "a" * 41 + " " + "1" * 358
    assert len(text) == 400
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = with_quality_score(df).select("quality").collect()[0][0]
    assert got == 0.6508, got
    # DuckDB evaluates the same integer formula to the same double
    import duckdb

    import __spark_entry__ as em

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT 1 AS doc_id, '{text}' AS text"
    )
    oracle = con.execute(em.oracle_sql()["t02_quality_score"]).fetchone()[1]
    assert oracle == got


def test_quality_score_no_int_overflow_on_large_docs(spark):
    """The integer form's scaled alpha term (6000*n_alpha) exceeds
    int32 past ~357k alphabetic chars — a realistic web/training doc
    size; the arithmetic runs in BIGINT like the DuckDB oracle.

    400k all-alpha one-token doc: s4=10000 (len>=100), p4=10000 (no
    punct), w4=6000 (mean word len 400k > 10), alpha term
    floor((6000*400000 + 400000)/800000) = floor(3000.5) = 3000
    (6000*400000 = 2.4e9 > 2^31 — the overflow case).
    q = (30000+20000+12000)/10 + 3000 = 9200 -> 0.92 exactly."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        with_quality_score,
    )

    df = spark.createDataFrame([(1, "a" * 400_000)], ["doc_id", "text"])
    got = with_quality_score(df).select("quality").collect()[0][0]
    assert got == 0.92, got


def test_incremental_components_small_differential(spark):
    """Default-gate twin of the slow differential below: on one small
    seeded graph, incremental_components over a split edge list equals a
    full connected_components recompute over all edges."""
    import random

    from cloudfabric_eventsourcing_spark.operators import graph

    rng = random.Random(3)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]
    old_df = spark.createDataFrame(edges[:18], ["id_a", "id_b"])
    new_df = spark.createDataFrame(edges[18:], ["id_a", "id_b"])
    got = {
        (r["node"], r["component"])
        for r in graph.incremental_components(
            graph.connected_components(old_df), new_df
        ).collect()
    }
    want = {
        (r["node"], r["component"])
        for r in graph.connected_components(old_df.unionByName(new_df)).collect()
    }
    assert got == want, (sorted(got - want), sorted(want - got))


@pytest.mark.slow
def test_incremental_components_equals_full_recompute(spark):
    """incremental_components(labels, new_edges) must equal a full
    connected_components over old+new edges, across the interesting
    merge shapes: chain-join of two components, a brand-new node
    bridging components, a new node whose id UNDERCUTS an existing
    component's min (relabels the whole component), an intra-component
    edge (no-op), and an isolated new-node pair.  Plus a seeded random
    graph split at arbitrary points."""
    import random

    from cloudfabric_eventsourcing_spark.operators import graph

    def check(old_edges, new_edges):
        old_df = spark.createDataFrame(old_edges, ["id_a", "id_b"])
        new_df = spark.createDataFrame(new_edges, ["id_a", "id_b"])
        labels = graph.connected_components(old_df)
        got = {
            (r["node"], r["component"])
            for r in graph.incremental_components(labels, new_df).collect()
        }
        want = {
            (r["node"], r["component"])
            for r in graph.connected_components(
                old_df.unionByName(new_df)
            ).collect()
        }
        assert got == want, (sorted(got - want), sorted(want - got))

    # chain-join: {1,2} and {3,4} merge via (2,3)
    check([(1, 2), (3, 4)], [(2, 3)])
    # new node bridges two components
    check([(1, 2), (10, 11)], [(99, 2), (99, 10)])
    # new node undercuts an existing min: component {5,6} relabels to 0
    check([(5, 6)], [(0, 6)])
    # intra-component edge: no-op
    check([(1, 2), (2, 3)], [(1, 3)])
    # isolated brand-new pair
    check([(1, 2)], [(20, 21)])
    # seeded random graphs, random split point
    rng = random.Random(7)
    for _ in range(3):
        nodes = list(range(40))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cut = rng.randrange(1, len(edges) - 1)
        check(edges[:cut], edges[cut:])


@pytest.mark.slow
def test_cluster_index_incremental_maintenance(spark, tmp_path):
    """Persisted cluster index: appends write ONLY batch-sized journal
    files (base labels untouched), the resolved view always equals a
    full recompute, replayed appends are idempotent, and compaction
    folds the journal without changing labels."""
    import glob
    import os

    from cloudfabric_eventsourcing_spark.operators import graph

    path = str(tmp_path / "cidx")
    batches = [
        [(1, 2), (3, 4), (10, 11)],
        [(2, 3), (20, 21)],          # merges {1,2}+{3,4}; new pair
        [(0, 11), (21, 10)],         # undercut min; bridge via new edge
    ]
    base = spark.createDataFrame(batches[0], ["id_a", "id_b"])
    graph.save_cluster_index(graph.connected_components(base), path)
    base_files = sorted(glob.glob(f"{path}/labels/*"))

    def full(upto):
        edges = [e for b in batches[: upto + 1] for e in b]
        return {
            (r["node"], r["component"])
            for r in graph.connected_components(
                spark.createDataFrame(edges, ["id_a", "id_b"])
            ).collect()
        }

    for i, b in enumerate(batches[1:], start=1):
        stats = graph.append_cluster_pairs(
            spark, path, spark.createDataFrame(b, ["id_a", "id_b"])
        )
        got = {
            (r["node"], r["component"])
            for r in graph.load_cluster_labels(spark, path).collect()
        }
        assert got == full(i), (i, stats)
        # base labels never rewritten by an append
        assert sorted(glob.glob(f"{path}/labels/*")) == base_files

    # replayed append (at-least-once delivery): same state
    graph.append_cluster_pairs(
        spark, path, spark.createDataFrame(batches[2], ["id_a", "id_b"])
    )
    got = {
        (r["node"], r["component"])
        for r in graph.load_cluster_labels(spark, path).collect()
    }
    assert got == full(2)

    # compaction: labels identical, journal cleared, base rewritten
    graph.compact_cluster_index(spark, path)
    assert not os.path.exists(f"{path}/remap")
    assert not os.path.exists(f"{path}/nodes")
    got = {
        (r["node"], r["component"])
        for r in graph.load_cluster_labels(spark, path).collect()
    }
    assert got == full(2)

    # appends keep working after compaction
    graph.append_cluster_pairs(
        spark, path, spark.createDataFrame([(4, 20)], ["id_a", "id_b"])
    )
    got = {
        (r["node"], r["component"])
        for r in graph.load_cluster_labels(spark, path).collect()
    }
    batches.append([(4, 20)])
    assert got == full(3)

    # compaction crash windows: labels renamed away, committed tmp left
    # behind — the next read must roll the swap FORWARD, never let an
    # append bootstrap an empty base over a real corpus
    graph.compact_cluster_index(spark, path)
    want = {
        (r["node"], r["component"])
        for r in graph.load_cluster_labels(spark, path).collect()
    }
    import shutil

    from cloudfabric_eventsourcing_spark import commit

    tmp_dir, old_dir = commit._swap_siblings(f"{path}/labels")
    shutil.copytree(f"{path}/labels", tmp_dir)
    open(f"{tmp_dir}/{commit._COMMITTED}", "w").close()
    os.rename(f"{path}/labels", old_dir)
    got = {
        (r["node"], r["component"])
        for r in graph.load_cluster_labels(spark, path).collect()
    }
    assert got == want
    assert os.path.isdir(f"{path}/labels")
    assert not os.path.exists(tmp_dir)
    # backward roll: labels gone, UNCOMMITTED tmp, original in old
    spark.createDataFrame([(999, 999)], ["node", "component"]).write.parquet(
        tmp_dir
    )  # incomplete attempt: no _COMMITTED marker
    os.rename(f"{path}/labels", old_dir)
    got = {
        (r["node"], r["component"])
        for r in graph.load_cluster_labels(spark, path).collect()
    }
    assert got == want
    assert not os.path.exists(tmp_dir)
    assert not os.path.exists(old_dir)


def test_avi_codec_hand_packed_spec_bytes():
    """decode_avi validated against a container packed BY HAND from the
    RIFF/AVI spec (independent of encode_avi, so a shared layout bug
    cannot self-validate): bottom-up padded BGR DIB rows must come back
    top-down RGB."""
    import struct

    from cloudfabric_eventsourcing_spark.operators import codecs

    # 2x2 frame, image rows top-down RGB: [RED, GREEN] / [BLUE, WHITE]
    dib = bytes([255, 0, 0, 255, 255, 255, 0, 0]) + bytes(
        [0, 0, 255, 0, 255, 0, 0, 0]
    )

    def ck(fcc, payload):
        return (
            fcc + struct.pack("<I", len(payload)) + payload
            + (b"\0" if len(payload) & 1 else b"")
        )

    avih = struct.pack(
        "<14I", 100000, 0, 0, 0x10, 1, 0, 1, len(dib), 2, 2, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"\0" * 4
        + struct.pack("<10I", 0, 0, 0, 1, 10, 0, 1, len(dib), 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, 2, 2)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(dib), 0, 0, 0, 0)
    hdrl = ck(
        b"LIST",
        b"hdrl" + ck(b"avih", avih)
        + ck(b"LIST", b"strl" + ck(b"strh", strh) + ck(b"strf", strf)),
    )
    movi = ck(b"LIST", b"movi" + ck(b"00db", dib))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    w, h, fps, frames = codecs.decode_avi(avi)
    assert (w, h) == (2, 2) and abs(fps - 10.0) < 1e-9
    assert frames[0] == bytes([255, 0, 0, 0, 255, 0]) + bytes(
        [0, 0, 255, 255, 255, 255]
    )
    # encode/decode round-trip on multi-frame content with row padding
    fr = [bytes((i * 37 + j) % 256 for j in range(5 * 4 * 3)) for i in range(25)]
    w2, h2, fps2, out = codecs.decode_avi(codecs.encode_avi(5, 4, 12.0, fr))
    # fps quantizes through the container's integer usec-per-frame field
    assert (w2, h2, out) == (5, 4, fr) and abs(fps2 - 12.0) < 1e-3


def test_avi_codec_audio_stream_first_and_top_down_dib():
    """r7 advice pins: (1) an AVI whose AUDIO strl precedes the video one
    must not parse the audio WAVEFORMATEX as a BITMAPINFOHEADER — the
    decoder tracks each strh's fccType and takes strf/frame chunks from
    the 'vids' stream only; (2) negative biHeight declares a top-down
    DIB whose rows are already in display order — no flip."""
    import struct

    from cloudfabric_eventsourcing_spark.operators import codecs

    # top-down 2x2 frame stored in DISPLAY order (BGR):
    # [RED, GREEN] / [BLUE, WHITE]
    dib = bytes([0, 0, 255, 0, 255, 0]) + b"\0\0" + bytes(
        [255, 0, 0, 255, 255, 255]
    ) + b"\0\0"

    def ck(fcc, payload):
        return (
            fcc + struct.pack("<I", len(payload)) + payload
            + (b"\0" if len(payload) & 1 else b"")
        )

    avih = struct.pack(
        "<14I", 100000, 0, 0, 0x10, 1, 0, 2, len(dib), 2, 2, 0, 0, 0, 0
    )
    # stream 0: audio.  Its strf is a WAVEFORMATEX — 16-bit PCM stereo —
    # which a first-strf-wins parser would misread as a BITMAPINFOHEADER.
    strh_aud = (
        b"auds" + b"\0" * 4
        + struct.pack("<10I", 0, 0, 0, 1, 8000, 0, 8000, 16000, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, 0, 0)
    )
    strf_aud = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    # stream 1: video, biHeight NEGATIVE (top-down)
    strh_vid = (
        b"vids" + b"\0" * 4
        + struct.pack("<10I", 0, 0, 0, 1, 10, 0, 1, len(dib), 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, 2, 2)
    )
    strf_vid = struct.pack(
        "<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, len(dib), 0, 0, 0, 0
    )
    hdrl = ck(
        b"LIST",
        b"hdrl" + ck(b"avih", avih)
        + ck(b"LIST", b"strl" + ck(b"strh", strh_aud) + ck(b"strf", strf_aud))
        + ck(b"LIST", b"strl" + ck(b"strh", strh_vid) + ck(b"strf", strf_vid)),
    )
    # a stray '00dc' data chunk belonging to the AUDIO stream must be
    # skipped; the real frame is stream 1's '01db'
    movi = ck(b"LIST", b"movi" + ck(b"00dc", b"\xde\xad") + ck(b"01db", dib))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    w, h, fps, frames = codecs.decode_avi(avi)
    assert (w, h) == (2, 2) and abs(fps - 10.0) < 1e-9
    assert len(frames) == 1
    # top-down: row order preserved, BGR -> RGB only
    assert frames[0] == bytes([255, 0, 0, 0, 255, 0]) + bytes(
        [0, 0, 255, 255, 255, 255]
    )


def test_mp4_hand_packed_spec_bytes_decode():
    """decode_mp4 validated against a container packed BY HAND from the
    ISO 14496-12 box layout (independent of encode_mp4, so a shared
    layout bug cannot self-validate): one 'jpeg' video track, TWO mdat
    chunks in non-track order, stsz/stsc/stco driving the sample walk.
    A decoder that assumes mdat-contiguous samples fails this."""
    import struct

    from cloudfabric_eventsourcing_spark.operators import codecs

    # two distinct constant-color 16x16 frames as baseline JPEGs
    f0 = codecs.encode_jpeg(16, 16, 3, bytes([40]) * 768, quality=95)
    f1 = codecs.encode_jpeg(16, 16, 3, bytes([200]) * 768, quality=95)

    def box(fcc, payload):
        return struct.pack(">I", 8 + len(payload)) + fcc + payload

    def full(fcc, vf, payload):
        return box(fcc, struct.pack(">I", vf) + payload)

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"mp41")
    # frame ORDER inverted on disk: mdat A holds f1, mdat B holds f0 —
    # stco must bring them back in sample order (f0 then f1)
    mdatA = box(b"mdat", f1)
    mdatB = box(b"mdat", f0)
    offA = len(ftyp) + 8            # payload offset of f1
    offB = len(ftyp) + len(mdatA) + 8  # payload offset of f0
    entry = (
        struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6 + struct.pack(">H", 1)
        + b"\x00" * 16 + struct.pack(">HH", 16, 16)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + struct.pack(">I", 0) + struct.pack(">H", 1)
        + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
    )
    stsd = full(b"stsd", 0, struct.pack(">I", 1) + entry)
    stts = full(b"stts", 0, struct.pack(">III", 1, 2, 100))  # 10 fps @ ts 1000
    stsc = full(b"stsc", 0, struct.pack(">I", 2)
                + struct.pack(">III", 1, 1, 1) + struct.pack(">III", 2, 1, 1))
    stsz = full(b"stsz", 0, struct.pack(">II", 0, 2)
                + struct.pack(">II", len(f0), len(f1)))
    stco = full(b"stco", 0, struct.pack(">III", 2, offB, offA))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    hdlr = full(b"hdlr", 0, struct.pack(">I", 0) + b"vide" + b"\x00" * 13)
    mdhd = full(b"mdhd", 0, struct.pack(">IIIIHH", 0, 0, 1000, 200, 0, 0))
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", trak)
    mp4 = ftyp + mdatA + mdatB + moov

    w, h, fps, frames = codecs.decode_mp4(mp4)
    assert (w, h) == (16, 16) and abs(fps - 10.0) < 1e-9
    assert len(frames) == 2
    assert frames[0] == bytes([40]) * 768      # sample order restored
    assert frames[1] == bytes([200]) * 768


def test_mp4_codec_round_trip_and_boundaries():
    """encode_mp4 -> decode_mp4 round trip (multi-frame, two-chunk
    layout), plus the honest boundaries: an avc1 sample entry names the
    codec in the error and points at decoder= injection; junk raises."""
    import struct

    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import codecs

    frames = [bytes([(i * 37 + j) % 256 for j in range(12 * 12 * 3)])
              for i in range(4)]
    mp4 = codecs.encode_mp4(12, 12, 25.0, frames, quality=95)
    w, h, fps, out = codecs.decode_mp4(mp4)
    assert (w, h, len(out)) == (12, 12, 4) and abs(fps - 25.0) < 1e-6
    # lossy but close: mean abs error small on smooth content
    err = sum(abs(a - b) for a, b in zip(out[0], frames[0])) / len(out[0])
    assert err < 8

    # inter-frame sample entry -> named, injectable error
    avc = mp4.replace(b"jpeg", b"avc1", 1)
    with _pytest.raises(ValueError, match="avc1"):
        codecs.decode_mp4(avc)
    with _pytest.raises(ValueError):
        codecs.decode_mp4(b"\x00" * 32)
    with _pytest.raises(ValueError):  # ftyp but no moov
        codecs.decode_mp4(
            struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x02\x00"
        )


def test_mp4_hostile_and_truncated_bytes_raise_valueerror():
    """Corrupt-input hardening (r9 self-review): (1) a hostile stsz
    claiming ~2^40 bytes of samples must raise instead of materializing
    a multi-GB list (an OOM kill is the one failure on_error='skip'
    cannot catch); (2) a non-conformant stsc whose first run does not
    start at chunk 1 is rejected loudly instead of silently walking
    wrong chunk offsets into wrong pixels; (3) EVERY truncation of a
    valid file raises ValueError, never struct.error — the documented
    contract all on_error policies are built on."""
    import struct

    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import codecs

    frames = [bytes([v]) * (12 * 12 * 3) for v in (10, 90, 170)]
    mp4 = codecs.encode_mp4(12, 12, 10.0, frames, quality=95)

    # (1) hostile stsz: uniform size and count both huge
    i = mp4.index(b"stsz")
    evil = bytearray(mp4)
    evil[i + 8:i + 16] = struct.pack(">II", 1 << 20, 1 << 20)
    with _pytest.raises(ValueError, match="sample table|stsz"):
        codecs.decode_mp4(bytes(evil))

    # (2) stsc first run anchored at chunk 1.  Box layout from the
    # fourcc: +4 version/flags, +8 entry_count, +12 first run's
    # first_chunk.
    j = mp4.index(b"stsc")
    evil2 = bytearray(mp4)
    evil2[j + 12:j + 16] = struct.pack(">I", 2)  # first_chunk 1 -> 2
    with _pytest.raises(ValueError, match="chunk 1|inconsistent"):
        codecs.decode_mp4(bytes(evil2))

    # (3) truncation sweep: ValueError (or clean no-op parse) only
    for cut in range(9, len(mp4), 23):
        try:
            codecs.decode_mp4(mp4[:cut])
        except ValueError:
            pass  # the contract
        except struct.error as exc:  # pragma: no cover
            raise AssertionError(f"struct.error leaked at cut={cut}: {exc}")


@pytest.mark.slow
def test_cosine_index_legacy_layout_refused(spark, tmp_path):
    """r9 self-review: an index persisted by the pre-pbucket layout
    (partitionBy('bucket'), r8 and earlier) must be refused LOUDLY by
    both the probe and append — probing would die on an unresolved
    pbucket column mid-stream, and appending would write pbucket=*/
    dirs beside the legacy bucket=*/ dirs, corrupting every later
    read."""
    import shutil

    import pytest as _pytest

    vecs = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, 0.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "cidx")
    dedup.save_cosine_index(vecs, path, dims=4, bits=8)
    # rewrite the vectors dataset in the legacy layout
    legacy = spark.read.parquet(f"{path}/vectors").select(
        "vec_id", "embedding", "bucket"
    )
    rows = legacy.collect()
    shutil.rmtree(f"{path}/vectors")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, bucket int"
    ).write.partitionBy("bucket").parquet(f"{path}/vectors")

    with _pytest.raises(ValueError, match="legacy"):
        dedup.cosine_dedup_against_index(vecs, path, threshold=0.9)
    with _pytest.raises(ValueError, match="legacy"):
        dedup.save_cosine_index(vecs, path, dims=4, bits=8, mode="append")


def test_multimodal_mp4_frame_pipeline(spark):
    """MP4 end-to-end through sample_frames: Motion-JPEG samples demux
    via the stsz/stsc/stco walk, every-n-th frame re-encodes as PNG, and
    the sampled frames compose with decode_image_features — the same
    contract the AVI path pins."""
    from cloudfabric_eventsourcing_spark.operators import codecs, multimodal

    frames = [bytes([v]) * (16 * 16 * 3) for v in (8, 72, 136, 200)]
    mp4 = codecs.encode_mp4(16, 16, 10.0, frames, quality=95)
    media = spark.createDataFrame(
        [(1, "video", bytearray(mp4), None)], multimodal.MEDIA_SCHEMA
    )
    sampled = multimodal.sample_frames(media, every_n=2).collect()
    assert [(r["media_id"], r["frame_idx"]) for r in sampled] == [
        (1, 0), (1, 2)
    ]
    # constant-color MJPEG frames round-trip exactly -> PNG decodes back
    w, h, ch, px = codecs.decode_png(bytes(sampled[0]["frame_bytes"]))
    assert (w, h) == (16, 16) and px == bytes([8]) * 768
    feats = multimodal.decode_image_features(
        spark.createDataFrame(
            [(int(r["media_id"] * 10 + r["frame_idx"]), "image",
              bytearray(bytes(r["frame_bytes"])), None) for r in sampled],
            multimodal.MEDIA_SCHEMA,
        )
    ).collect()
    assert sorted(r["media_id"] for r in feats) == [10, 12]
    for r in feats:
        assert max(r["features"]) == 1.0  # one-hot: constant-color frames


def test_m02_gray_levels_survive_jpeg():
    """Pin for m02_image_neardup's oracle premise: every bin-center gray
    level v = bin*16 + 8 round-trips PNG exactly AND JPEG(quality=95)
    back to a one-hot luminance histogram in the SAME bin — so the
    planted same-bin pairs are exactly the threshold pairs."""
    from cloudfabric_eventsourcing_spark.operators import codecs

    for b in range(16):
        v = b * 16 + 8
        px = bytes([v]) * (16 * 16 * 3)
        _, _, _, dec_png = codecs.decode_png(codecs.encode_png(16, 16, 3, px))
        assert dec_png == px
        _, _, ch, dec_jpg = codecs.decode_jpeg(
            codecs.encode_jpeg(16, 16, 3, px, quality=95)
        )
        f_png = codecs.image_features(16, 16, 3, dec_png, 16)
        f_jpg = codecs.image_features(16, 16, ch, dec_jpg, 16)
        assert f_png == f_jpg
        assert f_png[b] == 1.0


def test_m03_tone_classes_are_separable():
    """Pin for m03_audio_neardup's oracle premise: the 16 band-center
    tones produce embeddings with worst CROSS-class cosine far below
    the 0.995 threshold, and same-class WAVs are byte-identical so
    same-class cosine is exactly 1.0 after rounding."""
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import codecs
    from cloudfabric_eventsourcing_spark.operators.multimodal import (
        _audio_features,
    )

    sr, n = 8000, 2000
    mag_size = n // 2 + 1
    edges = np.unique(
        np.round(np.logspace(0, np.log10(mag_size - 1), 17)).astype(int)
    )
    while edges.size < 17:
        edges = np.unique(np.append(edges, edges[-1] + 1))
    centers = [
        max((edges[i] + max(edges[i + 1], edges[i] + 1)) // 2, 1)
        for i in range(16)
    ]
    t = np.arange(n) / sr
    feats = []
    for c in range(16):
        freq = centers[c] * sr / n
        pcm = np.clip(
            np.cos(2 * np.pi * freq * t) * 30000, -32768, 32767
        ).astype(np.int16)
        wav = codecs.encode_wav(sr, 1, 2, pcm.tobytes())
        feats.append(np.array(_audio_features(wav, 16)[2]))
    # no class may be silent (a sine at the Nyquist center bin IS —
    # that is why m03 uses cosine tones); a zero vector would make the
    # cosine comparison below silently nan
    norms = [float(np.linalg.norm(f)) for f in feats]
    assert min(norms) > 0.5, norms
    worst = max(
        float(feats[a] @ feats[b] / (norms[a] * norms[b]))
        for a in range(16) for b in range(a + 1, 16)
    )
    assert worst < 0.5, worst  # measured ~1e-4; threshold is 0.995


def test_m04_containers_agree():
    """Pin for m04_video_neardup's oracle premise: the SAME constant-gray
    frames muxed as Motion-JPEG MP4 and as Motion-JPEG AVI demux to
    identical pixel payloads (same frame count, same bytes per frame),
    so the two containers produce identical embeddings and every
    same-bin pair lands at cosine exactly 1.0 regardless of container."""
    from cloudfabric_eventsourcing_spark.operators import codecs
    from cloudfabric_eventsourcing_spark.operators.multimodal import (
        _decode_video,
    )

    for b in (0, 7, 15):
        px = bytes([b * 16 + 8]) * (16 * 16 * 3)
        frames = [px] * 3
        mp4 = codecs.encode_mp4(16, 16, 10.0, frames, quality=95)
        avi = codecs.encode_avi(16, 16, 10.0, frames, codec="mjpeg",
                                quality=95)
        w1, h1, _, f1 = _decode_video(mp4)
        w2, h2, _, f2 = _decode_video(avi)
        assert (w1, h1) == (w2, h2) == (16, 16)
        assert len(f1) == len(f2) == 3
        assert f1 == f2
        # and the decoded gray stays in its bin (m02's premise holds
        # through the video mux too)
        feats = codecs.image_features(16, 16, 3, f1[0], 16)
        assert feats[b] == 1.0


@pytest.mark.slow
def test_video_feature_vectors_mean_pool(spark):
    """video_feature_vectors: a 3-frame constant-gray MP4 mean-pools to
    the exact one-hot histogram; two different-bin videos land in
    different bins; video_neardup_pairs finds exactly the same-bin
    pair."""
    from cloudfabric_eventsourcing_spark.operators import (
        codecs,
        multimodal,
    )

    def vid(b):
        px = bytes([b * 16 + 8]) * (16 * 16 * 3)
        return codecs.encode_mp4(16, 16, 10.0, [px] * 3, quality=95)

    media = spark.createDataFrame(
        [
            (1, "video", bytearray(vid(3)), None),
            (2, "video", bytearray(vid(3)), None),
            (3, "video", bytearray(vid(9)), None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in multimodal.video_feature_vectors(media).collect()
    }
    assert set(vecs) == {1, 2, 3}
    assert vecs[1][3] == 1.0 and sum(vecs[1]) == 1.0
    assert vecs[3][9] == 1.0
    assert vecs[1] == vecs[2] != vecs[3]
    pairs = multimodal.video_neardup_pairs(media, threshold=0.995).collect()
    assert [(r["id_a"], r["id_b"], r["cosine"]) for r in pairs] == [
        (1, 2, 1.0)
    ]


def test_avi_codec_minimal_no_strh_falls_back_to_first_strf():
    """r8 advice pin: a structurally minimal AVI that carries strf (and
    frames) but omits strh entirely must still decode via the pre-r8
    first-strf behavior — before any strh appears there is no audio
    stream a strf could belong to, so the fallback cannot misparse a
    WAVEFORMATEX.  After an strh HAS appeared the stricter vids-only
    rule stands (previous test)."""
    import struct

    from cloudfabric_eventsourcing_spark.operators import codecs

    # bottom-up 2x2 padded BGR DIB: display rows [RED, GREEN]/[BLUE, WHITE]
    dib = bytes([255, 0, 0, 255, 255, 255]) + b"\0\0" + bytes(
        [0, 0, 255, 0, 255, 0]
    ) + b"\0\0"

    def ck(fcc, payload):
        return (
            fcc + struct.pack("<I", len(payload)) + payload
            + (b"\0" if len(payload) & 1 else b"")
        )

    strf = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(dib), 0, 0, 0, 0)
    hdrl = ck(b"LIST", b"hdrl" + ck(b"LIST", b"strl" + ck(b"strf", strf)))
    movi = ck(b"LIST", b"movi" + ck(b"00db", dib))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    w, h, fps, frames = codecs.decode_avi(avi)
    assert (w, h) == (2, 2) and fps == 0.0  # no avih: fps unknown
    assert frames[0] == bytes([255, 0, 0, 0, 255, 0]) + bytes(
        [0, 0, 255, 255, 255, 255]
    )


def test_multimodal_real_video_frame_pipeline(spark):
    """Real video path end-to-end: uncompressed AVI -> every-n-th frame
    as standalone PNG -> image features on the sampled frames.  Nulls
    yield zero frames; compressed codecs raise the honest boundary."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import codecs

    frames = [
        bytes(((i * 31 + j) % 256) for j in range(6 * 4 * 3)) for i in range(25)
    ]
    avi = codecs.encode_avi(6, 4, 10.0, frames)
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(avi),
             {"mime": "video/x-msvideo", "width": None, "height": None,
              "duration_ms": 2500}),
            (2, "video", None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = sorted(
        multimodal.sample_frames(media, every_n=10).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["media_id"] for r in rows] == [1, 1, 1]  # null row: 0 frames
    assert [r["frame_idx"] for r in rows] == [0, 10, 20]
    for r in rows:
        w, h, ch, pixels = codecs.decode_png(bytes(r["frame_bytes"]))
        assert (w, h, ch) == (6, 4, 3)
        assert pixels == frames[r["frame_idx"]]  # lossless through PNG

    # sampled frames compose with the image feature extractor
    as_images = spark.createDataFrame(
        [
            (int(r["frame_idx"]), "image", bytearray(bytes(r["frame_bytes"])),
             {"mime": "image/png", "width": None, "height": None,
              "duration_ms": None})
            for r in rows
        ],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.decode_image_features(as_images).collect()
    assert {(r["width"], r["height"]) for r in feats} == {(6, 4)}

    # honesty boundary: a compressed stream raises, not garbage output
    with _pytest.raises(Exception, match="unsupported AVI codec"):
        bad = avi.replace(
            __import__("struct").pack("<IiiHHI", 40, 6, 4, 1, 24, 0),
            __import__("struct").pack("<IiiHHI", 40, 6, 4, 1, 24, 0x34363248),
        )
        spark.createDataFrame(
            [(3, "video", bytearray(bad), None)], multimodal.MEDIA_SCHEMA
        ).transform(lambda d: multimodal.sample_frames(d, every_n=5)).collect()


@pytest.mark.slow
def test_incremental_components_string_ids(spark):
    """String doc ids flow through the incremental merge exactly like
    the base CC (labels are min-by-lexicographic member id); pins the
    coalesce/broadcast path against type surprises."""
    from cloudfabric_eventsourcing_spark.operators import graph

    old = spark.createDataFrame(
        [("doc-b", "doc-c"), ("doc-x", "doc-y")], ["id_a", "id_b"]
    )
    new = spark.createDataFrame(
        [("doc-a", "doc-c"), ("doc-y", "doc-z")], ["id_a", "id_b"]
    )
    labels = graph.connected_components(old)
    got = {
        (r["node"], r["component"])
        for r in graph.incremental_components(labels, new).collect()
    }
    want = {
        (r["node"], r["component"])
        for r in graph.connected_components(old.unionByName(new)).collect()
    }
    assert got == want
    assert ("doc-a", "doc-a") in got  # new min relabels {b,c}
    assert ("doc-b", "doc-a") in got


@pytest.mark.slow
def test_ivf_index_refuses_inconsistent_state(spark, emb, tmp_path):
    """save_ivf_index writes centroids and vectors as two jobs; a crash
    between them over a live index leaves new centroids beside old cell
    assignments — probes would read the wrong partitions with no error.
    The consistency marker (deleted first, rewritten last) converts
    that silent corruption into a loud load failure."""
    import os

    import pytest as _pytest

    from cloudfabric_eventsourcing_spark import commit
    from cloudfabric_eventsourcing_spark.operators import similarity

    path = str(tmp_path / "ivf_marker")
    cents = similarity.ivf_centroids_from_sample(emb, 4)
    similarity.save_ivf_index(emb, cents, path)
    marker = os.path.join(path, commit._CONSISTENT)
    assert os.path.exists(marker)
    similarity.load_ivf_index(spark, path)  # consistent: loads fine

    # mid-write state: marker deleted, second job not yet done
    os.unlink(marker)
    with _pytest.raises(ValueError, match="consistency marker"):
        similarity.load_ivf_index(spark, path)
    # every consumer of load_ivf_index inherits the gate
    with _pytest.raises(ValueError, match="consistency marker"):
        similarity.append_to_ivf_index(emb, path)

    # completing the save restores service
    similarity.save_ivf_index(emb, cents, path)
    vectors, got = similarity.load_ivf_index(spark, path)
    assert got.shape == cents.shape and vectors.count() == emb.count()


@pytest.mark.slow
def test_dedup_indexes_refuse_inconsistent_state(spark, docs, emb, tmp_path):
    """Full (overwrite) saves of the MinHash and cosine indexes write
    meta and data as separate jobs; a crash between them over a live
    index leaves parts that disagree (new banding params over old band
    rows silently ADMIT duplicates).  The consistency marker — cleared
    first, stamped last — makes every reader fail loudly instead."""
    import os

    import pytest as _pytest

    from cloudfabric_eventsourcing_spark import commit
    from cloudfabric_eventsourcing_spark.operators import dedup

    mh = str(tmp_path / "mh_idx")
    dedup.save_minhash_index(docs, mh)
    assert os.path.exists(os.path.join(mh, commit._CONSISTENT))
    dedup.dedup_against_index(docs.limit(3), mh)  # gated read works

    os.unlink(os.path.join(mh, commit._CONSISTENT))  # mid-save state
    with _pytest.raises(ValueError, match="consistency marker"):
        dedup.dedup_against_index(docs.limit(3), mh)
    with _pytest.raises(ValueError, match="consistency marker"):
        dedup.save_minhash_index(docs, mh, mode="append")
    dedup.save_minhash_index(docs, mh)  # completed save restores service
    dedup.dedup_against_index(docs.limit(3), mh)

    cs = str(tmp_path / "cos_idx")
    dims = len(emb.select("embedding").first()[0])
    dedup.save_cosine_index(emb, cs, dims=dims)
    assert os.path.exists(os.path.join(cs, commit._CONSISTENT))
    os.unlink(os.path.join(cs, commit._CONSISTENT))
    with _pytest.raises(ValueError, match="consistency marker"):
        dedup.cosine_dedup_against_index(emb.limit(3), cs, threshold=0.9)
    dedup.save_cosine_index(emb, cs, dims=dims)
    dedup.cosine_dedup_against_index(emb.limit(3), cs, threshold=0.9)


def test_jpeg_codec_hand_packed_spec_bytes():
    """decode_jpeg validated against a container packed BY HAND from
    ITU-T T.81 (independent of encode_jpeg, so a shared layout bug
    cannot self-validate): one 8x8 grayscale block, flat level 160.
    DCT DC of a flat (160-128) block is 8*32=256; with a constant
    all-16 quantization table the quantized DC is 16 (category 5).
    Standard DC-luma Huffman gives category-5 code '110'; DC bits
    '10000'; EOB is '1010'; 1-padded to two bytes = D0 AF."""
    import struct

    from cloudfabric_eventsourcing_spark.operators import codecs

    def seg(marker, payload):
        return (
            bytes([0xFF, marker])
            + struct.pack(">H", len(payload) + 2)
            + payload
        )

    dqt = seg(0xDB, bytes([0]) + bytes([16]) * 64)
    sof = seg(
        0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    )
    bits_dc = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dht_dc = seg(0xC4, bytes([0x00]) + bytes(bits_dc) + bytes(range(12)))
    bits_ac = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    dht_ac = seg(
        0xC4, bytes([0x10]) + bytes(bits_ac) + bytes(codecs._HUFF_AC_LUMA[1])
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0x00, 0x3F, 0x00]))
    jpg = (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
        + bytes([0xD0, 0xAF]) + b"\xff\xd9"
    )
    w, h, ch, px = codecs.decode_jpeg(jpg)
    assert (w, h, ch) == (8, 8, 1)
    assert set(px) == {160} and len(px) == 64


def test_jpeg_codec_round_trips_and_honest_boundaries():
    """encode/decode closeness across the profile matrix (lossy codec:
    assert bounded error, not equality): grayscale, RGB 4:4:4, RGB
    4:2:0 subsampled, restart intervals.  Progressive and
    arithmetic-coded variants raise the honest boundary."""
    import numpy as np
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import codecs

    def maxerr(a, b):
        return int(np.abs(a.astype(int) - b.astype(int)).max())

    gray = (np.add.outer(np.arange(24) * 3, np.arange(33) * 5) % 256).astype(
        np.uint8
    )
    w, h, ch, px = codecs.decode_jpeg(
        codecs.encode_jpeg(33, 24, 1, gray.tobytes(), quality=90)
    )
    assert (w, h, ch) == (33, 24, 1)
    assert maxerr(np.frombuffer(px, np.uint8).reshape(24, 33), gray) <= 2

    rgb = np.zeros((16, 20, 3), np.uint8)
    rgb[..., 0] = np.arange(20)[None, :] * 12
    rgb[..., 1] = np.arange(16)[:, None] * 15
    rgb[..., 2] = 77
    w, h, ch, px = codecs.decode_jpeg(
        codecs.encode_jpeg(20, 16, 3, rgb.tobytes(), quality=92)
    )
    assert (w, h, ch) == (20, 16, 3)
    assert maxerr(np.frombuffer(px, np.uint8).reshape(16, 20, 3), rgb) <= 4

    # 4:2:0: smooth chroma so box-mean + replication stays close; pins
    # the decoder's sampling-factor MCU layout and upsampler
    rgb2 = np.zeros((24, 36, 3), np.uint8)
    rgb2[..., 0] = 128 + np.arange(36)[None, :] * 2
    rgb2[..., 1] = 100
    rgb2[..., 2] = 128 + np.arange(24)[:, None] * 3
    jp420 = codecs.encode_jpeg(
        36, 24, 3, rgb2.tobytes(), quality=92, subsample=True
    )
    w, h, ch, px = codecs.decode_jpeg(jp420)
    assert (w, h, ch) == (36, 24, 3)
    assert maxerr(np.frombuffer(px, np.uint8).reshape(24, 36, 3), rgb2) <= 6

    # restart markers: 4 MCUs with DRI=1 -> RST0/1/2 between them; the
    # decoder must byte-align, consume each marker, and reset DC preds
    gray2 = (np.add.outer(np.arange(8) * 7, np.arange(32) * 3) % 256).astype(
        np.uint8
    )
    jpr = codecs.encode_jpeg(
        32, 8, 1, gray2.tobytes(), quality=90, restart_interval=1
    )
    assert b"\xff\xd0" in jpr and b"\xff\xd2" in jpr
    w, h, ch, px = codecs.decode_jpeg(jpr)
    assert maxerr(np.frombuffer(px, np.uint8).reshape(8, 32), gray2) <= 2

    base = codecs.encode_jpeg(20, 16, 3, rgb.tobytes())
    # arithmetic coding is still an honest boundary; a baseline stream
    # RELABELED progressive is malformed (its interleaved full-band SOS
    # is illegal under T.81 G.1) and fails loudly, not silently
    bad = bytearray(base)
    bad[bad.find(b"\xff\xc0") + 1] = 0xC9
    with _pytest.raises(NotImplementedError, match="arithmetic"):
        codecs.decode_jpeg(bytes(bad))
    bad = bytearray(base)
    bad[bad.find(b"\xff\xc0") + 1] = 0xC2
    with _pytest.raises(ValueError):
        codecs.decode_jpeg(bytes(bad))
    with _pytest.raises(ValueError, match="SOI"):
        codecs.decode_jpeg(b"\x00\x01\x02")


def test_multimodal_jpeg_features_and_resize(spark):
    """JPEG media rows flow through the real pipeline: true dimensions +
    luminance histogram from decode_image_features, and resize_images
    decodes JPEG -> resamples -> re-encodes PNG."""
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import codecs

    rgb = np.zeros((16, 24, 3), np.uint8)
    rgb[..., 0] = np.arange(24)[None, :] * 10
    rgb[..., 1] = 200
    jpg = codecs.encode_jpeg(24, 16, 3, rgb.tobytes(), quality=90)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(jpg),
             {"mime": "image/jpeg", "width": 24, "height": 16,
              "duration_ms": None}),
            (2, "image", None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in multimodal.decode_image_features(media).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (24, 16)
    assert abs(sum(rows[1]["features"]) - 1.0) < 1e-9
    assert rows[2]["features"] is None  # null row tolerated

    resized = {
        r["media_id"]: r for r in multimodal.resize_images(media, 8, 8).collect()
    }
    w, h, ch, px = codecs.decode_png(bytes(resized[1]["content"]))
    assert (w, h, ch) == (8, 8, 3)
    assert resized[1]["meta"]["mime"] == "image/png"
    assert resized[2]["content"] is None


def test_avi_mjpeg_codec_and_frame_pipeline(spark):
    """Motion JPEG AVI — per-frame baseline JPEGs in the RIFF container,
    decodable now that the JPEG floor exists: round-trip closeness
    (lossy), '00dc' + biCompression='MJPG' container fields, and the
    sampled-frame pipeline end-to-end."""
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import codecs

    frames = []
    for i in range(12):
        f = np.zeros((16, 24, 3), np.uint8)
        f[..., 0] = (np.arange(24)[None, :] * 10 + i * 7) % 256
        f[..., 1] = 120
        f[..., 2] = (np.arange(16)[:, None] * 9) % 256
        frames.append(f.tobytes())
    avi = codecs.encode_avi(24, 16, 10.0, frames, codec="mjpeg", quality=92)
    assert b"MJPG" in avi and b"00dc" in avi
    w, h, fps, out = codecs.decode_avi(avi)
    assert (w, h, len(out)) == (24, 16, 12)
    for got, want in zip(out, frames):
        err = np.abs(
            np.frombuffer(got, np.uint8).astype(int)
            - np.frombuffer(want, np.uint8).astype(int)
        ).max()
        assert err <= 6  # lossy, bounded

    media = spark.createDataFrame(
        [(1, "video", bytearray(avi),
          {"mime": "video/x-msvideo", "width": None, "height": None,
           "duration_ms": 1200})],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.sample_frames(media, every_n=5).collect()
    assert sorted(r["frame_idx"] for r in rows) == [0, 5, 10]
    for r in rows:
        fw, fh, fch, _ = codecs.decode_png(bytes(r["frame_bytes"]))
        assert (fw, fh, fch) == (24, 16, 3)


def test_jpeg_fill_bytes_and_odd_dim_subsampling():
    """Two spec corners found in self-review: (1) T.81 B.1.1.2 allows
    extra 0xFF fill bytes before any marker — parsers that treat the
    second 0xFF as the marker id lose sync; (2) odd image dimensions
    under 4:2:0 (chroma planes are ceil-halved and the decoder crops
    after replication)."""
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import codecs

    rgb = np.zeros((17, 29, 3), np.uint8)
    rgb[..., 0] = 128 + np.arange(29)[None, :] * 2
    rgb[..., 1] = 90
    rgb[..., 2] = 128 + np.arange(17)[:, None] * 3
    jp = codecs.encode_jpeg(29, 17, 3, rgb.tobytes(), quality=92, subsample=True)
    w, h, ch, px = codecs.decode_jpeg(jp)
    assert (w, h, ch) == (29, 17, 3)
    err = np.abs(
        np.frombuffer(px, np.uint8).reshape(17, 29, 3).astype(int)
        - rgb.astype(int)
    ).max()
    assert err <= 6

    base = codecs.encode_jpeg(8, 8, 1, bytes(range(64)), quality=90)
    stuffed = base.replace(b"\xff\xdb", b"\xff\xff\xff\xdb", 1).replace(
        b"\xff\xc0", b"\xff\xff\xc0", 1
    )
    assert codecs.decode_jpeg(stuffed)[3] == codecs.decode_jpeg(base)[3]


def test_media_on_error_policies_tolerate_corrupt_blobs(spark):
    """At corpus scale some blobs WILL be truncated/mislabeled; the
    on_error policy decides row fate instead of killing the job:
    "null" quarantines (image ops with a null row shape), "skip"
    drops (exploding/vector ops), default "raise" keeps strict
    semantics."""
    import numpy as np
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import codecs

    img = np.full((8, 8, 3), 200, np.uint8)
    good_png = codecs.encode_png(8, 8, 3, img.tobytes())
    corrupt = b"\x89PNG\r\n\x1a\n" + b"\xde\xad\xbe\xef" * 8  # bad chunks
    rows = [
        (1, "image", bytearray(good_png), None),
        (2, "image", bytearray(corrupt), None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    # default: strict — the job surfaces the codec error (wrapped by
    # the Spark worker machinery; match on the codec's message)
    with _pytest.raises(Exception, match="PNG"):
        multimodal.decode_image_features(media).collect()
    # null: corrupt row quarantined with its byte count, good row decoded
    got = {r["media_id"]: r for r in
           multimodal.decode_image_features(media, on_error="null").collect()}
    assert got[1]["width"] == 8 and got[2]["features"] is None
    assert got[2]["n_bytes"] == len(corrupt)
    # skip: only the good row
    assert [r["media_id"] for r in
            multimodal.decode_image_features(media, on_error="skip").collect()
            ] == [1]
    # resize: null policy emits null content, skip drops
    rz = {r["media_id"]: r for r in
          multimodal.resize_images(media, 4, 4, on_error="null").collect()}
    assert rz[1]["content"] is not None and rz[2]["content"] is None
    assert [r["media_id"] for r in
            multimodal.resize_images(media, 4, 4, on_error="skip").collect()
            ] == [1]

    # audio + video exploding ops: corrupt containers drop under skip
    sr = 8000
    pcm = (np.sin(np.arange(sr) / 20) * 30000).astype(np.int16)
    good_wav = codecs.encode_wav(sr, 1, 2, pcm.tobytes())
    aud = spark.createDataFrame(
        [(1, "audio", bytearray(good_wav), None),
         (2, "audio", bytearray(b"RIFFjunkWAVEjunk"), None)],
        multimodal.MEDIA_SCHEMA,
    )
    assert {r["media_id"] for r in
            multimodal.chunk_audio(aud, on_error="skip").collect()} == {1}
    assert {r["vec_id"] for r in
            multimodal.audio_feature_vectors(aud, on_error="skip").collect()
            } == {1}
    frames = [bytes(6 * 4 * 3) for _ in range(3)]
    good_avi = codecs.encode_avi(6, 4, 10.0, frames)
    vid = spark.createDataFrame(
        [(1, "video", bytearray(good_avi), None),
         (2, "video", bytearray(b"RIFF\x00\x00\x00\x00AVI junk"), None)],
        multimodal.MEDIA_SCHEMA,
    )
    assert {r["media_id"] for r in
            multimodal.sample_frames(vid, every_n=1, on_error="skip").collect()
            } == {1}
    with _pytest.raises(ValueError):
        multimodal.decode_image_features(media, on_error="quarantine")


def test_codec_fuzz_corrupt_bytes_raise_cleanly():
    """Property: the codec floor never hangs or silently returns
    garbage on corrupt input — random bytes behind valid magic, and
    random single-byte corruptions of valid files, either decode to a
    plausible result or raise an ordinary exception promptly.  This is
    the contract the on_error policies rely on.  DeprecationWarnings
    are promoted to errors here: the r13 fuzz run surfaced numpy's
    out-of-int32 assignment warning (the JPEG DC predictor on corrupt
    streams), which a future numpy turns into an OverflowError outside
    the codec taxonomy — warning-free today means stable on an
    upgraded environment."""
    import warnings as _warnings

    import struct as _struct
    import zlib as _zlib

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cloudfabric_eventsourcing_spark.operators import codecs

    ok_errors = (
        ValueError, NotImplementedError, KeyError, IndexError,
        EOFError, OverflowError, MemoryError, _struct.error, _zlib.error,
    )
    img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    base_jpg = codecs.encode_jpeg(8, 8, 3, img.tobytes(), quality=85)
    base_png = codecs.encode_png(8, 8, 3, img.tobytes())
    base_wav = codecs.encode_wav(8000, 1, 2, bytes(1600))
    base_avi = codecs.encode_avi(8, 8, 10.0, [img.tobytes()])
    base_mp4 = codecs.encode_mp4(8, 8, 10.0, [img.tobytes()])

    @settings(max_examples=500, deadline=None)
    @given(st.binary(min_size=0, max_size=200),
           st.sampled_from([0, 1, 2, 3, 4]))
    def random_tail(tail, which):
        base, dec = [
            (b"\xff\xd8", codecs.decode_jpeg),
            (b"\x89PNG\r\n\x1a\n", codecs.decode_png),
            (b"RIFF\x10\x00\x00\x00WAVE", codecs.decode_wav),
            (b"RIFF\x10\x00\x00\x00AVI ", codecs.decode_avi),
            (b"\x00\x00\x00\x14ftypisom\x00\x00\x00\x00isom",
             codecs.decode_mp4),
        ][which]
        try:
            with _warnings.catch_warnings():
                _warnings.simplefilter("error", DeprecationWarning)
                dec(base + tail)
        except ok_errors:
            pass
        except Exception as e:
            # wave/chunk stdlib modules raise their own Error/RuntimeError
            assert type(e).__name__ in ("Error", "RuntimeError"), e

    @settings(max_examples=500, deadline=None)
    @given(st.data())
    def flip_byte(data):
        which = data.draw(st.sampled_from([0, 1, 2, 3, 4]))
        base, dec = [
            (base_jpg, codecs.decode_jpeg),
            (base_png, codecs.decode_png),
            (base_wav, codecs.decode_wav),
            (base_avi, codecs.decode_avi),
            (base_mp4, codecs.decode_mp4),
        ][which]
        pos = data.draw(st.integers(0, len(base) - 1))
        val = data.draw(st.integers(0, 255))
        mut = bytearray(base)
        mut[pos] = val
        try:
            with _warnings.catch_warnings():
                _warnings.simplefilter("error", DeprecationWarning)
                out = dec(bytes(mut))
            # decoded despite the flip: result must still be shaped sanely
            assert isinstance(out, tuple) and len(out) == 4
        except ok_errors:
            pass
        except Exception as e:
            assert type(e).__name__ in ("Error", "RuntimeError"), e

    random_tail()
    flip_byte()


def test_media_decode_errors_quarantine_report(spark):
    """The quarantine report names exactly the undecodable blobs with
    their error class: healthy rows emit nothing, corrupt rows carry
    the codec's error type, honest boundaries (progressive JPEG) are
    distinguishable from garbage, null content is its own class."""
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import codecs

    img = np.full((8, 8, 3), 100, np.uint8)
    good_png = codecs.encode_png(8, 8, 3, img.tobytes())
    arith = bytearray(codecs.encode_jpeg(8, 8, 3, img.tobytes()))
    # arithmetic coding: honest boundary (progressive DECODES since r8)
    arith[arith.find(b"\xff\xc0") + 1] = 0xC9
    rows = [
        (1, "image", bytearray(good_png), None),
        (2, "image", bytearray(b"\x89PNG\r\n\x1a\njunk"), None),
        (3, "image", bytearray(bytes(arith)), None),
        (4, "audio", None, None),
        (5, "video", bytearray(b"RIFF\x00\x00\x00\x00AVI junk"), None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    rep = {r["media_id"]: r for r in
           multimodal.media_decode_errors(media).collect()}
    assert set(rep) == {2, 3, 4, 5}  # healthy row 1 absent
    assert rep[2]["error"] == "ValueError"
    assert rep[3]["error"] == "NotImplementedError"
    assert "arithmetic" in rep[3]["detail"]
    assert rep[4]["error"] == "NullContent"
    assert rep[5]["error"] == "ValueError"


def test_png_16bit_decodes_to_8bit():
    """16-bit PNG (common in scientific / scanner corpora): the byte-wise
    scanline filters run at bpp = channels x 2 and samples downscale via
    the high byte.  Hand-built file with an Up-filtered second row so the
    2-byte filter distance is actually exercised."""
    import struct
    import zlib

    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import codecs

    w, h, ch = 3, 2, 3
    px16 = np.array(
        [[[65535, 0, 32768], [0, 65535, 257], [10000, 20000, 30000]],
         [[65535, 0, 32768], [514, 65535, 257], [10000, 20000, 30000]]],
        dtype=">u2",
    )
    row0 = px16[0].tobytes()
    cur = np.frombuffer(px16[1].tobytes(), np.uint8).astype(int)
    prv = np.frombuffer(row0, np.uint8).astype(int)
    raw = (
        b"\x00" + row0
        + b"\x02" + ((cur - prv) % 256).astype(np.uint8).tobytes()
    )

    def chunk(t, p):
        return (
            struct.pack(">I", len(p)) + t + p
            + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    ww, hh, cc, out = codecs.decode_png(png)
    assert (ww, hh, cc) == (3, 2, 3)
    want = (px16.astype(np.uint32) >> 8).astype(np.uint8)
    assert np.array_equal(np.frombuffer(out, np.uint8).reshape(h, w, ch), want)


def test_jpeg_progressive_hand_packed_spec_bytes():
    """Progressive JPEG (T.81 Annex G) validated against streams packed
    BY HAND from the spec — successive approximation (DC first at Al=1,
    DC refinement bit, AC first shifted, AC refinement with correction
    bits) and spectral selection (interleaved DC scan + per-component
    AC scans), plus multi-block EOBRUN with appended run bits."""
    import struct

    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import codecs

    def seg(marker, payload):
        return (
            bytes([0xFF, marker])
            + struct.pack(">H", len(payload) + 2)
            + payload
        )

    def dht(tc, th, table):
        bits, vals = table
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    DC_L, AC_L = codecs._HUFF_DC_LUMA, codecs._HUFF_AC_LUMA
    dqt = seg(0xDB, bytes([0]) + bytes([16]) * 64)
    sof2 = seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))

    def sos(ss, se, ah, al):
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    # A: flat 160 — DC first (Al=1, cat4 '101'+'1000' = B1), DC refine
    # (bit 0 = 7F), AC first (EOB '1010' = AF)
    jpg = (b"\xff\xd8" + dqt + sof2 + dht(0, 0, DC_L) + dht(1, 0, AC_L)
           + sos(0, 0, 0, 1) + bytes([0xB1])
           + sos(0, 0, 1, 0) + bytes([0x7F])
           + sos(1, 63, 0, 0) + bytes([0xAF])
           + b"\xff\xd9")
    w, h, ch, px = codecs.decode_jpeg(jpg)
    assert (w, h, ch, set(px)) == (8, 8, 1, {160})

    # B: AC successive approximation — true coeff 3 at zigzag 1 arrives
    # as 1<<1 in the first AC scan ('00'+'1'+EOB = 35) and gains its low
    # bit via an EOB-covered correction bit in the refinement (AF)
    jpg = (b"\xff\xd8" + dqt + sof2 + dht(0, 0, DC_L) + dht(1, 0, AC_L)
           + sos(0, 0, 0, 1) + bytes([0x3F])
           + sos(0, 0, 1, 0) + bytes([0x7F])
           + sos(1, 63, 0, 1) + bytes([0x35])
           + sos(1, 63, 1, 0) + bytes([0xAF])
           + b"\xff\xd9")
    w, h, ch, px = codecs.decode_jpeg(jpg)
    C = np.zeros((8, 8))
    C[0, 1] = 48.0  # 3 * q16, natural position (0,1)
    want = np.clip(
        np.round(codecs._DCT_A.T @ C @ codecs._DCT_A + 128.0), 0, 255
    ).astype(np.uint8)
    assert np.array_equal(np.frombuffer(px, np.uint8).reshape(8, 8), want)

    # C: spectral selection, 3 components — interleaved DC scan
    # (Y cat5+bits, chroma cat0s = D0 0F), then one AC scan per
    # component (EOBs); Y=160 Cb=Cr=128 -> gray RGB 160
    DC_C, AC_C = codecs._HUFF_DC_CHROMA, codecs._HUFF_AC_CHROMA
    sof2c = seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 8)
                + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dqt2 = seg(0xDB, bytes([1]) + bytes([16]) * 64)
    sos_dc3 = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 0, 0x00]))

    def sos1(cid, table_id):
        return seg(0xDA, bytes([1, cid, table_id, 1, 63, 0x00]))

    jpg = (b"\xff\xd8" + dqt + dqt2 + sof2c
           + dht(0, 0, DC_L) + dht(1, 0, AC_L)
           + dht(0, 1, DC_C) + dht(1, 1, AC_C)
           + sos_dc3 + bytes([0xD0, 0x0F])
           + sos1(1, 0x00) + bytes([0xAF])
           + sos1(2, 0x01) + bytes([0x3F])
           + sos1(3, 0x01) + bytes([0x3F])
           + b"\xff\xd9")
    w, h, ch, px = codecs.decode_jpeg(jpg)
    assert (w, h, ch) == (8, 8, 3)
    assert set(np.frombuffer(px, np.uint8)) == {160}

    # D: multi-block EOBRUN — 16x8 (2 blocks in raster), AC scan covered
    # by one EOB1 with an appended run bit; needs an EOBn-capable custom
    # table (the baseline Annex K tables only carry EOB0)
    sof2w = seg(0xC2, bytes([8]) + struct.pack(">HH", 8, 16)
                + bytes([1, 1, 0x11, 0]))
    ac_eob = ([0, 2, 1] + [0] * 13, [0x00, 0x10, 0x01])  # 00,01 / 100
    # DC first raster: block1 diff 16 (110+10000), block2 diff 0 (00)
    # -> 1101 0000 00 + 6 pad = D0 3F; AC: EOB1 '01' + run bit '0' = 5F
    jpg = (b"\xff\xd8" + dqt + sof2w + dht(0, 0, DC_L) + dht(1, 0, ac_eob)
           + sos(0, 0, 0, 0) + bytes([0xD0, 0x3F])
           + sos(1, 63, 0, 0) + bytes([0x5F])
           + b"\xff\xd9")
    w, h, ch, px = codecs.decode_jpeg(jpg)
    assert (w, h, ch, set(px)) == (16, 8, 1, {160})


def test_bpe_encode_schema_and_case_parity(spark):
    """Two advice pins on bpe_encode.  (a) Output schema is built
    structurally, so input column names with spaces/hyphens survive
    (the old DDL-string join failed to parse them).  (b) Case mapping
    is the SAME engine expression as the trainer (F.lower in a temp
    column) — so for non-ASCII uppercase ('İ', 'ẞ') the encoder's word
    segmentation agrees byte-for-byte with the trainer's tokens_column
    view of the corpus, whatever the JVM's case tables say."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cloudfabric_eventsourcing_spark.operators.bpe import (
        EOW,
        bpe_encode,
        train_bpe,
    )
    from cloudfabric_eventsourcing_spark.operators.text import tokens_column

    # (a) hostile column names
    schema = T.StructType([
        T.StructField("doc id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source-file", T.StringType()),
    ])
    hostile = spark.createDataFrame(
        [(1, "low lower lowest", "a.txt"), (2, "newest widest", "b-c.txt")],
        schema,
    )
    merges = train_bpe(
        spark.createDataFrame(
            [(i, w) for i, w in enumerate(
                ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
            )],
            "doc_id long, text string",
        ),
        n_merges=10,
    )
    out = bpe_encode(hostile, merges)
    assert out.columns == ["doc id", "text", "source-file", "bpe_tokens"]
    rows = {r["doc id"]: r["bpe_tokens"] for r in out.collect()}
    assert rows[1][:2] == ["low", EOW] or rows[1][0].startswith("low")

    # (b) non-ASCII case parity: encoder words == trainer words
    tricky = spark.createDataFrame(
        [(1, "İSTANBUL Weiß STRASSE ẞHARP ΣΊΣΥΦΟΣ mixedCASE")],
        "doc_id long, text string",
    )
    trainer_words = tricky.select(
        F.explode(tokens_column(F.col("text"))).alias("w")
    ).collect()
    trainer_words = [r["w"] for r in trainer_words]
    enc = bpe_encode(tricky, merges).collect()[0]["bpe_tokens"]
    # reassemble encoder words by splitting the token stream at EOW
    words, cur = [], ""
    for t in enc:
        if t.endswith(EOW):
            words.append(cur + t[: -len(EOW)])
            cur = ""
        else:
            cur += t
    assert cur == ""
    assert words == trainer_words


@pytest.mark.slow
def test_bpe_save_load_roundtrip(spark, tmp_path):
    """A production tokenizer is an artifact: train -> save -> load
    returns the identical ranked merge list and encodes identically;
    the artifact carries its tokenization contract and fails LOUDLY on
    a missing consistency marker, a future format, a contract mismatch,
    or corrupted merge ranks (same crash discipline as the persisted
    dedup/ANN indexes)."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(
            ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        )],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(docs, n_merges=8)
    path = str(tmp_path / "tok")
    bpe.save_bpe(spark, merges, path)
    loaded = bpe.load_bpe(spark, path)
    assert loaded == merges
    enc_a = {r["doc_id"]: r["bpe_tokens"]
             for r in bpe.bpe_encode(docs, merges).collect()}
    enc_b = {r["doc_id"]: r["bpe_tokens"]
             for r in bpe.bpe_encode(docs, loaded).collect()}
    assert enc_a == enc_b

    # no marker (interrupted save) -> loud refusal
    from cloudfabric_eventsourcing_spark import commit
    commit.clear_marker(spark, path)
    with _pytest.raises(ValueError, match="consistency marker"):
        bpe.load_bpe(spark, path)

    # contract mismatch (different EOW) -> loud refusal
    path2 = str(tmp_path / "tok2")
    bpe.save_bpe(spark, merges, path2)
    spark.createDataFrame(
        [(1, "##", bpe._SPLITTER_CLASS, True, len(merges))],
        "format_version int, eow string, splitter string, "
        "lowercase boolean, n_merges int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path2}/meta")
    with _pytest.raises(ValueError, match="tokenization contract"):
        bpe.load_bpe(spark, path2)

    # future format -> loud refusal
    path3 = str(tmp_path / "tok3")
    bpe.save_bpe(spark, merges, path3)
    spark.createDataFrame(
        [(99, bpe.EOW, bpe._SPLITTER_CLASS, True, len(merges))],
        "format_version int, eow string, splitter string, "
        "lowercase boolean, n_merges int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path3}/meta")
    with _pytest.raises(ValueError, match="format v99"):
        bpe.load_bpe(spark, path3)

    # corrupt ranks (a dropped row) -> loud refusal
    path4 = str(tmp_path / "tok4")
    bpe.save_bpe(spark, merges, path4)
    kept = spark.read.parquet(f"{path4}/merges").where("rank <> 3")
    kept.coalesce(1).write.mode("overwrite").parquet(f"{path4}/merges_fix")
    spark.read.parquet(f"{path4}/merges_fix").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path4}/merges")
    with _pytest.raises(ValueError, match="non-contiguous|pins"):
        bpe.load_bpe(spark, path4)


@pytest.mark.slow
def test_bpe_byte_mode_covers_non_latin_and_roundtrips(spark, tmp_path):
    """Byte-level BPE (r10 verdict #6): the GPT-2 byte<->unicode table
    is a bijection over all 256 bytes; mode='byte' training on
    non-Latin text learns multi-byte merges (the char-mode blind spot);
    encoding is LOSSLESS for any input — mapping tokens back through
    the inverse table reconstructs the exact UTF-8 bytes of every
    lowercased word — and artifacts persist their mode, with a
    char/byte mismatch refusing loudly in both directions."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import bpe

    table = bpe.bytes_to_unicode()
    inv = bpe.unicode_to_bytes()
    assert len(table) == 256 and len(inv) == 256  # bijection
    assert all(inv[v] == k for k, v in table.items())

    # Japanese + German sharing the corpus: katakana repeats so byte
    # merges MUST form inside the 3-byte-per-char script
    ja = "テスト データ テスト データ モデル"
    docs = spark.createDataFrame(
        [(0, ja), (1, ja), (2, "größe straße größe")],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(docs, n_merges=12, mode="byte")
    assert merges, "byte mode learned nothing"
    # merges operate on rendered byte symbols: every merge side decodes
    # through the inverse table (EOW excepted)
    for a, b in merges:
        for side in (a, b):
            assert all(
                ch in inv for ch in side.replace(bpe.EOW, "")
            ), (a, b)

    # lossless coverage: tokens -> bytes -> text reconstructs every
    # lowercased word, including one the trainer NEVER saw (coverage
    # needs no <unk> — the base alphabet is closed)
    probe = spark.createDataFrame(
        [(0, ja), (1, "日本語 Überraschung")], "doc_id long, text string"
    )
    enc = {r["doc_id"]: r["bpe_tokens"]
           for r in bpe.bpe_encode(probe, merges, mode="byte").collect()}
    for did, text in [(0, ja), (1, "日本語 überraschung")]:
        toks = enc[did]
        joined = "".join(toks)
        words = joined.split(bpe.EOW)
        assert words[-1] == ""
        decoded = [
            bytes(inv[ch] for ch in w).decode("utf-8")
            for w in words[:-1]
        ]
        assert decoded == text.lower().split(), (did, decoded)

    # artifact carries its mode; mismatch refuses in both directions
    path = str(tmp_path / "btok")
    bpe.save_bpe(spark, merges, path, mode="byte")
    assert bpe.load_bpe(spark, path, mode="byte") == merges
    with _pytest.raises(ValueError, match="not interchangeable"):
        bpe.load_bpe(spark, path)  # default char
    cpath = str(tmp_path / "ctok")
    bpe.save_bpe(spark, bpe.train_bpe(docs, n_merges=4), cpath)
    with _pytest.raises(ValueError, match="not interchangeable"):
        bpe.load_bpe(spark, cpath, mode="byte")
    with _pytest.raises(ValueError, match="mode must be"):
        bpe.train_bpe(docs, n_merges=2, mode="bytes")


@pytest.mark.slow
def test_trained_language_id_precision(spark):
    """The trained language identifier (r9 verdict ask #7): multinomial
    LR over hashed character 2+3-grams, fit on a planted 4-language
    corpus and scored on HELD-OUT synthetic docs — per-language
    precision on the holdout must be >= 0.9, nulls/empties predict
    without crashing, and the scoring plan stays UDF-free (the L31
    honesty boundary: no oracle row, pytest pins the operator)."""
    import random

    from cloudfabric_eventsourcing_spark.operators import classify

    vocab = {
        "en": ("the quick brown fox jumps over lazy dogs while many "
               "people watch the evening news and drink warm tea").split(),
        "de": ("der schnelle braune Fuchs springt über faule Hunde "
               "während viele Leute abends Nachrichten schauen und "
               "warmen Tee trinken größe straße müde schön").split(),
        "fr": ("le renard brun rapide saute par-dessus les chiens "
               "paresseux pendant que beaucoup de gens regardent les "
               "nouvelles du soir et boivent du thé chaud être déjà").split(),
        "es": ("el zorro marrón rápido salta sobre los perros perezosos "
               "mientras mucha gente mira las noticias de la noche y "
               "bebe té caliente mañana niño señor además").split(),
    }
    rng = random.Random(7)

    def doc(lang):
        return " ".join(rng.choice(vocab[lang]) for _ in range(12))

    train_rows = [(doc(l), l) for l in vocab for _ in range(40)]
    hold_rows = [(i, doc(l), l)
                 for i, (l, _) in enumerate(
                     [(l, j) for l in vocab for j in range(15)])]
    model = classify.train_language_id(
        spark.createDataFrame(train_rows, "text string, lang string"),
        num_features=1 << 13,
    )
    held = spark.createDataFrame(
        hold_rows, "doc_id long, text string, lang string"
    )
    pred = classify.predict_language(held, model)
    assert pred.columns == ["doc_id", "text", "lang", "lang_pred"]
    rows = pred.collect()
    for lang in vocab:
        mine = [r for r in rows if r["lang_pred"] == lang]
        correct = [r for r in mine if r["lang"] == lang]
        assert mine, f"{lang}: never predicted"
        prec = len(correct) / len(mine)
        assert prec >= 0.9, f"{lang}: precision {prec:.2f}"
    # recall sanity too: the planted corpus is separable
    acc = sum(r["lang"] == r["lang_pred"] for r in rows) / len(rows)
    assert acc >= 0.9
    # nulls and empties never crash the scoring pass
    weird = spark.createDataFrame(
        [(1, None, "en"), (2, "", "en")],
        "doc_id long, text string, lang string",
    )
    assert classify.predict_language(weird, model).count() == 2
    # UDF-free plan: scoring is JVM-side end to end
    plan = pred._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lexical_diversity_semantics(spark):
    """t09 pins: exact token/type/hapax counts on a worked example,
    null/empty docs kept with zero counts, ratios as raw IEEE
    divisions, case-folding matches the shared tokenizer."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        lexical_diversity,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat and THE dog and the bird"),  # the:3 and:2 cat/dog/bird:1
            (2, ""),
            (3, None),
            (4, "unique words only here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in lexical_diversity(docs).collect()}
    assert len(rows) == 4
    r1 = rows[1]
    assert (r1["n_tokens"], r1["n_types"], r1["n_hapax"]) == (8, 5, 3)
    assert r1["ttr"] == 5 / 8 and r1["hapax_ratio"] == 3 / 5
    for d in (2, 3):
        r = rows[d]
        assert (r["n_tokens"], r["n_types"], r["n_hapax"]) == (0, 0, 0)
        assert r["ttr"] == 0.0 and r["hapax_ratio"] == 0.0
    r4 = rows[4]
    assert r4["ttr"] == 1.0 and r4["hapax_ratio"] == 1.0


@pytest.mark.slow
def test_quantize_embeddings_roundtrip_and_topk(spark):
    """s04/s05 pins: quantization error bounded by scale/254 per
    component (round-half-up to 127 levels), zero vectors quantize to
    zeros with scale 0, dequantized cosine ranking agrees with the
    float ranking on well-separated vectors, and the integer dot is
    exact (no floats anywhere in the score)."""
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators.similarity import (
        brute_force_topk,
        quantize_embeddings,
        quantized_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    rows.append((50, [0.0] * 8))  # zero vector
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qz = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert qz[50]["scale"] == 0.0 and qz[50]["qvec"] == [0] * 8
    for i in range(50):
        scale, q = qz[i]["scale"], np.array(qz[i]["qvec"])
        assert scale == float(np.max(np.abs(vecs[i].astype(np.float64))))
        assert np.all(np.abs(q) <= 127)
        deq = q * scale / 127.0
        assert np.max(np.abs(deq - vecs[i].astype(np.float64))) <= scale / 254 + 1e-12
    # integer-dot ranking vs float cosine ranking: top-1 must agree for
    # a planted twin (vec 0 duplicated as id 99 with tiny noise)
    twin = (vecs[0] + rng.normal(scale=1e-4, size=8).astype(np.float32))
    df2 = spark.createDataFrame(
        rows + [(99, [float(x) for x in twin])],
        "vec_id long, embedding array<float>",
    )
    qz2 = quantize_embeddings(df2)
    qq = qz2.where("vec_id = 0").collect()[0]["qvec"]
    top = quantized_topk(qz2.where("vec_id <> 0"), qq, k=1).collect()
    assert top[0]["vec_id"] == 99
    ftop = brute_force_topk(
        df2.where("vec_id <> 0"),
        [float(x) for x in vecs[0]], k=1,
    ).collect()
    assert ftop[0]["vec_id"] == 99
    # exactness: the Spark integer dot equals numpy's integer dot
    allq = {r["vec_id"]: r["qvec"] for r in qz2.collect()}
    got = {r["vec_id"]: r["dot"]
           for r in quantized_topk(qz2, qq, k=52).collect()}
    for vid, d in got.items():
        assert d == int(np.dot(np.array(qq, np.int64),
                               np.array(allq[vid], np.int64)))
    # NaN components are a loud boundary (ADVICE r10): default raises
    # naming the vector; on_nan="zero" maps the vector to the
    # zero-vector convention so quantized_topk never sees NULL dots
    import pytest as _pytest
    from pyspark.sql.utils import CapturedException

    nan_df = spark.createDataFrame(
        [(7, [0.5, float("nan")]), (8, [1.0, -2.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(CapturedException, match="NaN component in vector 7"):
        quantize_embeddings(nan_df).collect()
    zrows = {
        r["vec_id"]: r
        for r in quantize_embeddings(nan_df, on_nan="zero").collect()
    }
    assert zrows[7]["scale"] == 0.0 and zrows[7]["qvec"] == [0, 0]
    assert zrows[8]["scale"] == 2.0 and zrows[8]["qvec"] == [64, -127]
    dots = quantized_topk(
        quantize_embeddings(nan_df, on_nan="zero"), [127, 127], k=2
    ).collect()
    assert [r["dot"] is not None for r in dots] == [True, True]
    with _pytest.raises(ValueError, match="on_nan"):
        quantize_embeddings(nan_df, on_nan="bogus")


def test_lexical_diversity_kernel_matches_explode_form(spark, sf_dir):
    """t09's map-only Arrow kernel (factorize + one np.unique per
    batch — zero exchange) returns EXACTLY the explode -> two-agg
    reference, including the all-zero rows for null/empty docs and the
    raw IEEE ratio divisions, on the real documents table plus planted
    edge docs."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        lexical_diversity,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "one one one"),
            (100004, "all distinct words here"),
            (100005, "  \t  "),
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    fast = {r["doc_id"]: tuple(r)[1:] for r in
            lexical_diversity(both, use_arrow=True).collect()}
    ref = {r["doc_id"]: tuple(r)[1:] for r in
           lexical_diversity(both, use_arrow=False).collect()}
    assert fast == ref
    assert fast[100001] == (0, 0, 0, 0.0, 0.0)
    assert fast[100003] == (3, 1, 0, 1 / 3, 0.0)
    assert fast[100004] == (4, 4, 4, 1.0, 1.0)


def test_quantize_arrow_kernel_matches_column_form(spark, sf_dir):
    """The Arrow/numpy fast path (default since r12 — the r11 bench
    measured the per-element Column-HOF fold at 96x DuckDB at sf10) is
    BIT-identical to the Column form it replaced: same IEEE double ops
    in the same order for the scale and every quantized component, and
    the integer dot is exact either way.  The Column form stays as the
    oracle-exact reference; this pin is what lets the s04/s05
    differentials certify the Arrow path transitively."""
    from cloudfabric_eventsourcing_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fast = {
        r["vec_id"]: (r["scale"], r["qvec"])
        for r in quantize_embeddings(emb, use_arrow=True).collect()
    }
    ref = {
        r["vec_id"]: (r["scale"], r["qvec"])
        for r in quantize_embeddings(emb, use_arrow=False).collect()
    }
    assert fast == ref  # scale compared as exact doubles on purpose
    qq = fast[0][1]
    qz = quantize_embeddings(emb)
    top_fast = [
        (r["vec_id"], r["dot"])
        for r in quantized_topk(qz, qq, k=25, use_arrow=True).collect()
    ]
    top_ref = [
        (r["vec_id"], r["dot"])
        for r in quantized_topk(qz, qq, k=25, use_arrow=False).collect()
    ]
    assert top_fast == top_ref
    # the per-batch prune emits at most k rows per Arrow batch: the
    # final global sort's input is bounded, not corpus-sized
    pruned = quantized_topk(qz, qq, k=3, use_arrow=True)
    assert [r["vec_id"] for r in pruned.collect()] == [
        v for v, _ in top_ref[:3]
    ]
    # the fused single-pass kernel (s05's shape) equals the two-stage
    # composition exactly — same quantization arithmetic, same integer
    # dot, same (dot desc, id asc) order
    from cloudfabric_eventsourcing_spark.operators.similarity import (
        quantize_and_topk,
    )

    fused = [
        (r["vec_id"], r["dot"])
        for r in quantize_and_topk(emb, qq, k=25).collect()
    ]
    assert fused == top_ref
    # NaN boundary parity with quantize_embeddings
    import pytest as _pytest
    from pyspark.sql.utils import CapturedException

    nan_df = spark.createDataFrame(
        [(7, [0.5, float("nan")]), (8, [1.0, -2.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(CapturedException, match="NaN component in vector 7"):
        quantize_and_topk(nan_df, [127, 127], k=2).collect()
    zt = quantize_and_topk(nan_df, [127, 127], k=2, on_nan="zero").collect()
    # vec 8 -> [64, -127] . [127, 127] = -8001; NaN vec 7 -> zeros, dot 0
    assert [(r["vec_id"], r["dot"]) for r in zt] == [(7, 0), (8, -8001)]


def test_quantize_arrow_kernels_dirty_corpus(spark):
    """ADVICE r12: the Arrow kernels must propagate null / empty /
    wrong-length vectors with the Column forms' semantics instead of
    letting numpy raise on the ragged batch.  Column-form contract:
    null vector -> (scale NULL, qvec NULL); empty vector -> (scale
    NULL, qvec []); any qvec whose length mismatches the query (incl.
    null/empty) -> dot NULL, ranking last under (dot desc, id asc)."""
    from cloudfabric_eventsourcing_spark.operators.similarity import (
        quantize_and_topk,
        quantize_embeddings,
        quantized_topk,
    )

    dirty = spark.createDataFrame(
        [
            (1, [3.0, -6.0]),
            (2, None),
            (3, []),
            (4, [0.0, 0.0]),
            (5, [1.0, 2.0, 3.0]),  # ragged width
            (6, [6.0, 3.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    fast = {
        r["vec_id"]: (r["scale"], r["qvec"])
        for r in quantize_embeddings(dirty, use_arrow=True).collect()
    }
    ref = {
        r["vec_id"]: (r["scale"], r["qvec"])
        for r in quantize_embeddings(dirty, use_arrow=False).collect()
    }
    assert fast == ref
    assert fast[2] == (None, None)
    assert fast[3] == (None, [])
    assert fast[4] == (0.0, [0, 0])
    assert fast[5] == (3.0, [42, 85, 127])
    # topk over the dirty quantized table: dirty rows carry NULL dots
    # and rank last in both evaluation paths
    qz = quantize_embeddings(dirty, use_arrow=True)
    top_fast = [
        (r["vec_id"], r["dot"])
        for r in quantized_topk(qz, [127, 0], k=6, use_arrow=True).collect()
    ]
    top_ref = [
        (r["vec_id"], r["dot"])
        for r in quantized_topk(qz, [127, 0], k=6, use_arrow=False).collect()
    ]
    assert top_fast == top_ref
    # 6: [127,64].[127,0]=16129; 1: [64,-127].[127,0]=8128; 4: zeros
    assert top_fast[:3] == [(6, 16129), (1, 8128), (4, 0)]
    assert {v for v, d in top_fast if d is None} == {2, 3, 5}
    # fused kernel equals the composition on the dirty corpus too
    fused = [
        (r["vec_id"], r["dot"])
        for r in quantize_and_topk(dirty, [127, 0], k=6).collect()
    ]
    assert fused == top_fast


def test_brute_force_topk_arrow_matches_column_form(spark, sf_dir):
    """The r12-verdict s01 ask: the mapInArrow float-dot kernel (the
    s05 kernel minus quantization) pinned EXACTLY equal — ids AND
    rounded cosines — to the Column-fold reference on the real corpus,
    the whole corpus ranking (k = corpus size, so every rounding-tie
    ordering is exercised, not just the head), and a dirty corpus."""
    from cloudfabric_eventsourcing_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    query = emb.where("vec_id = 0").collect()[0]["embedding"]
    for kk in (25, n):
        fast = [
            (r["vec_id"], r["cosine"])
            for r in brute_force_topk(
                emb, query, k=kk, use_arrow=True
            ).collect()
        ]
        ref = [
            (r["vec_id"], r["cosine"])
            for r in brute_force_topk(
                emb, query, k=kk, use_arrow=False
            ).collect()
        ]
        assert fast == ref  # exact doubles: same fold order, same HALF_UP
    dirty = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),
            (2, None),
            (3, []),
            (4, [0.0, 0.0]),  # zero norm -> NULL cosine
            (5, [1.0, 2.0, 3.0]),  # ragged width
            (6, [-4.0, 3.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    fast = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            dirty, [1.0, 0.0], k=6, use_arrow=True
        ).collect()
    ]
    ref = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            dirty, [1.0, 0.0], k=6, use_arrow=False
        ).collect()
    ]
    assert fast == ref
    assert fast[:2] == [(1, 0.6), (6, -0.8)]
    assert {v for v, c in fast if c is None} == {2, 3, 4, 5}


@pytest.mark.slow
def test_topk_kernels_degenerate_order_and_null_ids(spark):
    """r13 advice, both findings: (a) per-batch dead-row pruning must
    respect the final (rank desc NULLS LAST, id asc NULLS FIRST) total
    order — when fewer than k live rows exist globally and one batch
    holds more than k dead rows, the surviving null-ranked ids must
    match the Column form, not the batch-position prefix; (b) a NULL
    id must degrade exactly like the Column form (sorts first among
    equals, never pairs) instead of raising TypeError inside the
    kernel sorts."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.operators.similarity import (
        brute_force_topk,
        quantize_and_topk,
        quantize_embeddings,
        quantized_topk,
    )

    # ONE live row + 9 dead rows with DESCENDING ids, single partition
    # -> one Arrow batch holds every dead row and the input-position
    # prefix (100, 99, ...) is the WRONG answer; the final order wants
    # the smallest dead ids (50, 93)
    rows = [(100 - i, None) for i in range(8)] + [
        (0, [1.0, 1.0]),
        (50, []),
    ]
    dirty = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    fast = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            dirty, [1.0, 0.0], k=3, use_arrow=True
        ).collect()
    ]
    ref = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            dirty, [1.0, 0.0], k=3, use_arrow=False
        ).collect()
    ]
    assert fast == ref
    assert fast[0][0] == 0 and [v for v, _ in fast[1:]] == [50, 93]
    # zero-norm dead rows travel the FAST (reshaped-buffer) path, which
    # prunes in its own branch — same ordering contract
    zrows = [(100 - i, [0.0, 0.0]) for i in range(8)] + [(0, [2.0, 0.0])]
    zdf = spark.createDataFrame(
        zrows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    zfast = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            zdf, [1.0, 0.0], k=3, use_arrow=True
        ).collect()
    ]
    zref = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            zdf, [1.0, 0.0], k=3, use_arrow=False
        ).collect()
    ]
    assert zfast == zref
    assert zfast[0][0] == 0 and [v for v, _ in zfast[1:]] == [93, 94]
    # the quantized kernels share the contract
    qz = quantize_embeddings(dirty, use_arrow=True)
    tf = [
        (r["vec_id"], r["dot"])
        for r in quantized_topk(qz, [127, 0], k=3, use_arrow=True).collect()
    ]
    tr = [
        (r["vec_id"], r["dot"])
        for r in quantized_topk(qz, [127, 0], k=3, use_arrow=False).collect()
    ]
    assert tf == tr
    fused = [
        (r["vec_id"], r["dot"])
        for r in quantize_and_topk(dirty, [127, 0], k=3).collect()
    ]
    assert fused == tf
    # NULL ids: ties on rank break (id asc NULLS FIRST); dead rows with
    # null ids sort ahead of concrete dead ids; nothing raises
    nid = spark.createDataFrame(
        [
            (None, [1.0, 0.0]),
            (7, [1.0, 0.0]),
            (8, None),
            (None, None),
        ],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    nfast = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            nid, [1.0, 0.0], k=4, use_arrow=True
        ).collect()
    ]
    nref = [
        (r["vec_id"], r["cosine"])
        for r in brute_force_topk(
            nid, [1.0, 0.0], k=4, use_arrow=False
        ).collect()
    ]
    assert nfast == nref
    assert nfast == [(None, 1.0), (7, 1.0), (None, None), (8, None)]
    ntf = [
        (r["vec_id"], r["dot"])
        for r in quantize_and_topk(nid, [127, 0], k=4).collect()
    ]
    ntr = [
        (r["vec_id"], r["dot"])
        for r in quantized_topk(
            quantize_embeddings(nid, use_arrow=False),
            [127, 0],
            k=4,
            use_arrow=False,
        ).collect()
    ]
    assert ntf == ntr
    # semantic_dedup: a null-id row neither removes nor is removed
    # (the Column form's `a.id < b.id` is null) — and must not crash
    # the Arrow kernel's id sort
    vecs = spark.createDataFrame(
        [
            (None, [1.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [1.0, 0.001]),
            (3, None),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid long, embedding array<double>"
    )

    def _key(r):
        return (r["vec_id"] is None, r["vec_id"])

    sfa = sorted(
        (
            (r["vec_id"], r["cluster_id"], r["kept"])
            for r in dedup.semantic_dedup(
                vecs, cents, 0.99, use_arrow=True
            ).collect()
        ),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    sre = sorted(
        (
            (r["vec_id"], r["cluster_id"], r["kept"])
            for r in dedup.semantic_dedup(
                vecs, cents, 0.99, use_arrow=False
            ).collect()
        ),
        key=lambda t: (t[0] is not None, t[0] or 0),
    )
    assert sfa == sre
    kept = {t[0]: t[2] for t in sfa}
    # id 2 is a near-dup of lower id 1 -> removed; the null-id twin of
    # id 1 (cos 1.0) is KEPT: null never loses the `a.id < b.id` race
    assert kept == {None: True, 1: True, 2: False, 3: True}


def test_image_dhash_and_hamming_pairs(spark):
    """m05's premises pinned: dHash is exactly the gradient pattern a
    rendered image encodes, invariant to 2x nearest upscale and uniform
    brightness gain; the 32 planted class/parity patterns are pairwise
    Hamming >= 20 apart except the designed intra-class distance 2;
    hamming_neardup_pairs excludes null hashes, refuses max_hamming > 3
    (the pigeonhole guarantee's edge), and returns exact distances."""
    import hashlib

    import numpy as np
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import (
        codecs,
        dedup,
        multimodal,
    )

    def pattern(cls, odd):
        pat = int.from_bytes(hashlib.md5(bytes([cls])).digest()[:8], "big")
        if odd:
            pat ^= (1 << ((cls * 7) % 64)) | (1 << ((cls * 7 + 29) % 64))
        return pat

    def render(pat, scale=1, gain=1.0):
        px = np.zeros((8, 9), np.uint8)
        for r in range(8):
            v = 128
            px[r, 0] = v
            for c in range(8):
                v += 8 if (pat >> (r * 8 + c)) & 1 else -8
                px[r, c + 1] = v
        px = np.clip(px.astype(np.float64) * gain, 0, 255).astype(np.uint8)
        big = np.repeat(np.repeat(px, scale, 0), scale, 1)
        rgb = np.repeat(big[..., None], 3, axis=2)
        return 9 * scale, 8 * scale, rgb.tobytes()

    # the planted patterns are far apart across classes, 2 within
    pats = {(k, o): pattern(k, o) for k in range(16) for o in (False, True)}
    for (k1, o1), p1 in pats.items():
        for (k2, o2), p2 in pats.items():
            if (k1, o1) >= (k2, o2):
                continue
            d = bin(p1 ^ p2).count("1")
            if k1 == k2:
                assert d == 2
            else:
                assert d >= 20, f"classes {k1}/{k2} too close ({d})"

    # dhash == pattern; invariant to upscale and brightness gain
    for (k, o), pat in list(pats.items())[:6]:
        w, h, px = render(pat)
        signed = int(np.int64(np.uint64(pat)))
        assert codecs.dhash_bits(w, h, 3, px) == signed
        w2, h2, px2 = render(pat, scale=2)
        assert codecs.dhash_bits(w2, h2, 3, px2) == signed
        w3, h3, px3 = render(pat, gain=0.7)
        assert codecs.dhash_bits(w3, h3, 3, px3) == signed

    # operator path: null content excluded under on_error="null",
    # distances exact, loose max_hamming refused
    rows = []
    for i, (key, pat) in enumerate(list(pats.items())[:4]):
        w, h, px = render(pat)
        rows.append((i, "image", bytearray(codecs.encode_png(w, h, 3, px)), None))
    rows.append((99, "image", None, None))
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    hashes = multimodal.image_dhash(media, on_error="null")
    got = {r["media_id"]: r["dhash"] for r in hashes.collect()}
    assert got[99] is None and len(got) == 5
    # null content is DATA, not an error: the (media_id, null) row
    # survives under every on_error mode (decode_image_features' r6
    # contract — fingerprint tables account for every input row)
    for mode in ("raise", "skip"):
        per_mode = {
            r["media_id"]: r["dhash"]
            for r in multimodal.image_dhash(media, on_error=mode).collect()
        }
        assert per_mode[99] is None and len(per_mode) == 5, mode
    pairs = dedup.hamming_neardup_pairs(
        hashes, "dhash", "media_id", max_hamming=2
    ).collect()
    # rows 0/1 are class 0 even/odd -> distance 2; rows 2/3 class 1
    got_pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got_pairs == {(0, 1): 2, (2, 3): 2}
    with _pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_neardup_pairs(hashes, "dhash", "media_id", max_hamming=4)


def test_image_dhash_exact_next_to_null_row(spark):
    """A null-content row and a fingerprint above 2**53 in ONE Arrow
    batch: the dhash column must come back as the exact int64 (a float64
    column in between rounds the low bits away and breaks the Hamming
    distances built on it)."""
    from cloudfabric_eventsourcing_spark.operators import codecs, multimodal

    pat = 0x9E3779B97F4A7C15  # low bits set: not exact as a float64
    px = bytearray()
    for r in range(8):
        v = 128
        row = [v]
        for c in range(8):
            v += 8 if (pat >> (r * 8 + c)) & 1 else -8
            row.append(v)
        px.extend(x for p in row for x in (p, p, p))
    want = codecs.dhash_bits(9, 8, 3, bytes(px))
    assert abs(want) > 2**53 and int(float(want)) != want
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(codecs.encode_png(9, 8, 3, bytes(px))), None),
            (2, "image", None, None),
        ],
        multimodal.MEDIA_SCHEMA,
    ).coalesce(1)
    got = {
        r["media_id"]: r["dhash"]
        for r in multimodal.image_dhash(media, on_error="null").collect()
    }
    assert got == {1: want, 2: None}


def test_hamming_index_probe_append_and_crash_discipline(spark, tmp_path):
    """The persisted Hamming index completes the index family: probe
    finds exactly the <= max_hamming corpus matches with exact
    distances, appends grow it, include_same_id gives streaming's
    content-keyed idempotence, a missing marker refuses loudly, a
    mismatched banding append refuses, and the broadcast probe plan has
    ZERO Exchange over index data (the daily-increment shape)."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import dedup

    path = str(tmp_path / "hidx")
    corpus = spark.createDataFrame(
        [(1, 0b1010), (2, 0b1010 ^ (1 << 40)), (3, -1), (4, None)],
        "media_id long, dhash long",
    )
    dedup.save_hamming_index(corpus, path)
    batch = spark.createDataFrame(
        [(10, 0b1010), (11, (-1) ^ 0b11), (12, 1 << 63 - 1)],
        "media_id long, dhash long",
    )
    probe = dedup.hamming_dedup_against_index(batch, path, max_hamming=2)
    got = {(r["new_id"], r["index_id"]): r["hamming"] for r in probe.collect()}
    # 10 matches 1 at 0 and 2 at 1; 11 matches 3 at 2; 12 matches nothing
    assert got == {(10, 1): 0, (10, 2): 1, (11, 3): 2}
    # the broadcast probe's only shuffle is the matched-pair dedup
    # (output-proportional); index data streams through a broadcast
    # hash join straight off the parquet scan
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re
    # (the AQE plan string repeats under "Initial Plan" — dedupe)
    exchanges = set(re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan))
    assert len(exchanges) == 1 and "new_id" in next(iter(exchanges)), plan
    assert "BroadcastHashJoin" in plan and "FileScan parquet" in plan
    # append grows the index; same-id redelivery visible with include_same_id
    dedup.save_hamming_index(
        spark.createDataFrame([(10, 0b1010)], "media_id long, dhash long"),
        path, mode="append",
    )
    again = dedup.hamming_dedup_against_index(
        batch, path, max_hamming=0, include_same_id=True
    )
    assert {(r["new_id"], r["index_id"]) for r in again.collect()} >= {(10, 10)}
    # crash discipline: no marker -> loud refusal
    from cloudfabric_eventsourcing_spark import commit

    commit.clear_marker(spark, path)
    with _pytest.raises(ValueError, match="consistency marker"):
        dedup.hamming_dedup_against_index(batch, path).collect()
    with _pytest.raises(ValueError, match="consistency marker"):
        dedup.save_hamming_index(batch, path, mode="append")
    # loose threshold refused
    commit.stamp_marker(spark, path)
    with _pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_dedup_against_index(batch, path, max_hamming=4)


@pytest.mark.slow
def test_compact_hamming_index(spark, tmp_path):
    """The Hamming index is a first-class compact_index dataset (its
    bands dirs share the minhash layout): per-batch append fragments
    fold to one file per band partition and the probe stays
    byte-identical."""
    from cloudfabric_eventsourcing_spark.operators import dedup
    from cloudfabric_eventsourcing_spark.operators.index_maintenance import (
        compact_index,
    )

    path = str(tmp_path / "hidx")
    dedup.save_hamming_index(
        spark.createDataFrame([(1, 100), (2, 200)], "media_id long, dhash long"),
        path,
    )
    for i in range(3):
        dedup.save_hamming_index(
            spark.createDataFrame(
                [(10 + i, 300 + i)], "media_id long, dhash long"
            ),
            path, mode="append",
        )
    batch = spark.createDataFrame(
        [(50, 100), (51, 301)], "media_id long, dhash long"
    )
    before = sorted(
        map(tuple, dedup.hamming_dedup_against_index(batch, path).collect())
    )
    report = compact_index(spark, path)
    assert report["bands"]["files_after"] < report["bands"]["files_before"]
    after = sorted(
        map(tuple, dedup.hamming_dedup_against_index(batch, path).collect())
    )
    assert after == before and len(after) >= 2


def test_unigram_surprisal_semantics(spark):
    """t10 pins: exact Laplace-smoothed surprisals on a worked example
    (micro-unit lattice), OOV tokens score as the smoothing class when
    the LM corpus differs, empty/null docs score (0, 0.0), and
    broadcast_lm=False returns identical values."""
    import math

    from cloudfabric_eventsourcing_spark.operators.text import (
        unigram_surprisal,
    )

    # LM corpus: tokens {a:3, b:1} -> N=4, V=2, denom = 4 + 1*(2+1) = 7
    lm = spark.createDataFrame(
        [(100, "a a a b")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "z"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    def micro(p):
        return round(-math.log(p) * 1e6)

    exp_ab = (micro(4 / 7) + micro(2 / 7)) / 2 / 1e6
    exp_oov = micro(1 / 7) / 1e6
    got = {r["doc_id"]: r for r in
           unigram_surprisal(docs, lm_df=lm).collect()}
    assert got[1]["n_tokens"] == 2 and got[1]["mean_surprisal"] == exp_ab
    assert got[2]["n_tokens"] == 1 and got[2]["mean_surprisal"] == exp_oov
    for d in (3, 4):
        assert got[d]["n_tokens"] == 0 and got[d]["mean_surprisal"] == 0.0
    # shuffled-join fallback identical (the web-scale-vocabulary path)
    got2 = {r["doc_id"]: r for r in
            unigram_surprisal(docs, lm_df=lm, broadcast_lm=False).collect()}
    assert {k: (v["n_tokens"], v["mean_surprisal"]) for k, v in got.items()} \
        == {k: (v["n_tokens"], v["mean_surprisal"]) for k, v in got2.items()}
    # self-trained: boilerplate scores lower than rare vocabulary
    corpus = spark.createDataFrame(
        [(i, "the common boilerplate line") for i in range(20)]
        + [(99, "zyzzyva qwertic flumbo")],
        "doc_id long, text string",
    )
    sc = {r["doc_id"]: r["mean_surprisal"]
          for r in unigram_surprisal(corpus).collect()}
    assert sc[99] > sc[0]


# ---------------------------------------------------------------------------
# round 11: gap_fill, event_transitions, dedup_lines_keep_first, PQ
# ---------------------------------------------------------------------------


def test_gap_fill_worked_example(spark):
    """Hand-computed fill: user 1 has events at 00:10 (v=1), 00:40 (v=2),
    03:05 (v=3) -> buckets 00,01,02,03; bucket 00 takes the LAST event's
    value (2), 01 and 02 carry it filled, 03 observed. User 2 has one
    event -> one unfilled bucket, no extrapolation either side."""
    from cloudfabric_eventsourcing_spark.operators.temporal import gap_fill

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 1.0, 10),
            (1, "2024-01-01 00:40:00", 2.0, 11),
            (1, "2024-01-01 03:05:00", 3.0, 12),
            (2, "2024-01-05 09:59:00", 7.0, 13),
        ],
        "user_id long, ts string, value double, event_id long",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) ts", "value", "event_id")
    out = {
        (r["user_id"], str(r["bucket"])): (r["value"], r["filled"])
        for r in gap_fill(
            df, "user_id", "ts", "value", unit="hour", tiebreak_col="event_id"
        ).collect()
    }
    assert out == {
        (1, "2024-01-01 00:00:00"): (2.0, False),
        (1, "2024-01-01 01:00:00"): (2.0, True),
        (1, "2024-01-01 02:00:00"): (2.0, True),
        (1, "2024-01-01 03:00:00"): (3.0, False),
        (2, "2024-01-05 09:00:00"): (7.0, False),
    }


def test_gap_fill_tiebreak_picks_highest_event_id_on_equal_ts(spark):
    from cloudfabric_eventsourcing_spark.operators.temporal import gap_fill

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 1.0, 5), (1, "2024-01-01 00:10:00", 9.0, 6)],
        "user_id long, ts string, value double, event_id long",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) ts", "value", "event_id")
    rows = gap_fill(
        df, "user_id", "ts", "value", unit="hour", tiebreak_col="event_id"
    ).collect()
    assert len(rows) == 1 and rows[0]["value"] == 9.0


def test_gap_fill_rejects_unknown_unit(spark):
    from cloudfabric_eventsourcing_spark.operators.temporal import gap_fill

    df = spark.range(1)
    try:
        gap_fill(df, "id", "id", "id", unit="fortnight")
        assert False, "expected ValueError"
    except ValueError as e:
        assert "unit" in str(e)


def test_event_transitions_counts_and_probabilities(spark):
    """a->b twice, a->a once for user 1 (order by ts then event_id);
    user boundaries never produce cross-user transitions."""
    from cloudfabric_eventsourcing_spark.operators.behavior import (
        event_transitions,
    )

    df = spark.createDataFrame(
        [
            (1, 1, "a", 1),
            (1, 2, "b", 2),
            (1, 3, "a", 3),
            (1, 4, "a", 4),
            (1, 5, "b", 5),
            (2, 6, "c", 6),
        ],
        "user_id long, t long, event_type string, event_id long",
    ).selectExpr(
        "user_id", "CAST(t AS TIMESTAMP) ts", "event_type", "event_id"
    )
    got = {
        (r["src"], r["dst"]): (r["n_transitions"], r["p"])
        for r in event_transitions(
            df, "user_id", "ts", "event_type", tiebreak_col="event_id"
        ).collect()
    }
    # src=a has 3 outgoing: a->b x2, a->a x1; src=b has 1: b->a; c none
    assert got[("a", "b")] == (2, 2 / 3)
    assert got[("a", "a")] == (1, 1 / 3)
    assert got[("b", "a")] == (1, 1.0)
    assert ("c", "a") not in got and len(got) == 3


def test_dedup_lines_keep_first_semantics(spark):
    """Duplicate lines survive only at the earliest (doc_id, pos);
    blank lines are structural and always kept; a doc deduped to only
    blanks still comes back (never dropped from the corpus)."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        dedup_lines_keep_first,
    )

    df = spark.createDataFrame(
        [
            (1, "dup\n\nunique one"),
            (2, "dup\n\nunique two\ndup"),
            (3, "dup"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean"], r["n_kept"], r["n_lines"])
        for r in dedup_lines_keep_first(df).collect()
    }
    # n_lines = pre-dedup line count (r11 advice: the removal-ratio
    # audit the docstring promises needs the denominator)
    assert got[1] == ("dup\n\nunique one", 3, 3)
    assert got[2] == ("\nunique two", 2, 4)  # both dup copies dropped
    assert got[3] == ("", 0, 1)  # deduped to nothing, still accounted for
    # null-text docs are accounted as 0 lines, not NULL/-1 (ADVICE r12)
    assert got[4] == ("", 0, 0)


def test_dedup_lines_first_occurrence_within_one_doc(spark):
    """The same line twice in ONE doc keeps only the earlier position."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        dedup_lines_keep_first,
    )

    df = spark.createDataFrame(
        [(1, "x\ny\nx")], "doc_id long, text string"
    )
    rows = dedup_lines_keep_first(df).collect()
    assert rows[0]["clean"] == "x\ny" and rows[0]["n_kept"] == 2


def test_pq_train_deterministic_and_shapes(spark, sf_dir):
    import numpy as np

    from cloudfabric_eventsourcing_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b1 = S.pq_train(emb, n_subspaces=8, n_codes=16)
    b2 = S.pq_train(emb, n_subspaces=8, n_codes=16)
    assert b1.shape == (8, 16, 8) and np.array_equal(b1, b2)
    # dim not divisible by m is a loud error
    try:
        S.pq_train(emb, n_subspaces=7)
        assert False, "expected ValueError"
    except ValueError as e:
        assert "divisible" in str(e)


def test_pq_train_lloyd_pinned(spark, sf_dir):
    """r15 optimization: pq_train's Lloyd step was vectorized (stable
    argsort + contiguous-slice means replacing k boolean masks per
    iteration).  The codebooks must be BIT-identical to the former
    mask-gather form — these hashes were captured from the pre-change
    implementation on the fixture corpus."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from cloudfabric_eventsourcing_spark.operators import similarity as S

    if not sf_dir.endswith("sf0.001"):
        pytest.skip("codebook hashes are pinned to the sf0.001 fixture")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    ).withColumn(
        "__n",
        F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x)),
    ).withColumn(
        "embedding", F.transform("embedding", lambda x: x / F.col("__n"))
    ).drop("__n")
    pins = {
        ("raw", 16): "51cc632a96b54bb5",
        ("raw", 256): "0454846eae79f5bd",
        ("norm", 256): "fda45cc37703682e",
    }
    frames = {"raw": emb, "norm": norm}
    for (which, k), expect in pins.items():
        b = S.pq_train(frames[which], n_subspaces=8, n_codes=k)
        got = hashlib.sha256(b.tobytes()).hexdigest()[:16]
        assert got == expect, f"{which}/{k}: codebook bits changed: {got}"


def test_pq_recall_vs_brute_force(spark, sf_dir):
    """PQ-ADC top-10 recalls >= 50% of the exact inner-product top-10
    (32x compression; measured 0.7 at sf0.01 with these settings) and
    the true nearest neighbor (the query itself) is always rank 1."""
    from pyspark.sql import functions as F

    from cloudfabric_eventsourcing_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    norm = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    ).withColumn(
        "__n",
        F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x)),
    ).withColumn(
        "embedding", F.transform("embedding", lambda x: x / F.col("__n"))
    ).drop("__n")
    # PQ8x256 — the classic 8-bit-code config (8 bytes/vector = 32x):
    # measured mean recall@10 0.68 (sf0.001) / 0.60 (sf0.01); the 4-bit
    # k=16 config halves that — codes must be wide enough for the space
    books = S.pq_train(norm, n_subspaces=8, n_codes=256)
    codes = S.pq_encode(norm, books).cache()
    recalls = []
    for qid in (3, 7, 11, 42, 99):
        q = norm.where(f"vec_id = {qid}").collect()[0]["embedding"]
        pq_ids = [
            r["vec_id"] for r in S.pq_topk(codes, books, q, k=10).collect()
        ]
        bf_ids = [
            r["vec_id"]
            for r in S.brute_force_topk(norm, q, k=10).collect()
        ]
        assert pq_ids[0] == qid  # self is nearest under ADC too
        recalls.append(len(set(pq_ids) & set(bf_ids)) / 10)
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    # encode is deterministic row-for-row
    c1 = {r["vec_id"]: r["pq_code"] for r in codes.collect()}
    c2 = {r["vec_id"]: r["pq_code"] for r in S.pq_encode(norm, books).collect()}
    assert c1 == c2


def test_pq_topk_rejects_wrong_query_dim(spark, sf_dir):
    from cloudfabric_eventsourcing_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = S.pq_train(emb, n_subspaces=8, n_codes=16)
    codes = S.pq_encode(emb, books)
    try:
        S.pq_topk(codes, books, [1.0, 2.0], k=3)
        assert False, "expected ValueError"
    except ValueError as e:
        assert "dim" in str(e)


def test_gap_fill_and_transitions_plan_shape(spark, sf_dir):
    """100 TB plan pins for the r11 event-analytics pair: gap_fill's
    ONLY shuffle is the user-key window exchange (the per-bucket
    last-event pick, the fill horizon, and the expansion all ride it);
    event_transitions adds exactly the tiny alphabet-squared aggregate
    exchange on top of the same window shuffle — neither joins the
    log to itself or to a generated calendar frame."""
    import re

    from cloudfabric_eventsourcing_spark.operators.behavior import (
        event_transitions,
    )
    from cloudfabric_eventsourcing_spark.operators.temporal import gap_fill
    from cloudfabric_eventsourcing_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    g = gap_fill(events, "user_id", "ts", "value", unit="hour",
                 tiebreak_col="event_id")
    g.write.format("noop").mode("overwrite").save()
    plan = g._jdf.queryExecution().executedPlan().toString()
    ex = set(re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan))
    assert len(ex) == 1 and "user_id" in next(iter(ex)), plan
    assert "Join" not in plan, plan

    t = event_transitions(events, "user_id", "ts", "event_type",
                          tiebreak_col="event_id")
    t.write.format("noop").mode("overwrite").save()
    plan = t._jdf.queryExecution().executedPlan().toString()
    ex = set(re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan))
    # one LOG-sized shuffle (the user-key window); the (src,dst) agg
    # and the P(dst|src) denominator window shuffle only the
    # alphabet-squared frame (25 rows here) — assert every non-window
    # exchange keys on src/dst, i.e. nothing re-shuffles the log
    assert any("user_id" in e for e in ex), plan
    assert all("user_id" in e or "src" in e for e in ex), plan
    assert "Join" not in plan, plan


def test_dedup_lines_plan_has_no_blank_line_hotspot(spark):
    """The keep-first window partitions ineligible (blank) lines by
    their unique (id, pos) — the partition expression must appear in
    the window exchange key so a corpus of a billion blank lines never
    funnels through one sort task."""
    from cloudfabric_eventsourcing_spark.operators.text import (
        dedup_lines_keep_first,
    )

    df = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "a\n\nc")], "doc_id long, text string"
    )
    out = dedup_lines_keep_first(df)
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window exchange must key on more than the raw line (flag +
    # per-row disambiguator), not `hashpartitioning(line, ...)` alone
    assert "concat_ws" in plan or "CASE WHEN" in plan, plan


def test_pq_index_roundtrip_append_and_crash_discipline(spark, sf_dir, tmp_path):
    """Persisted PQ index: save -> load returns the identical codebook
    tensor and the same codes pq_encode produces; pq_topk over the
    loaded index equals pq_topk over the in-memory codes; append
    encodes against the EXISTING codebooks (skip_existing anti-joins
    retries); a missing consistency marker refuses loudly."""
    import numpy as np
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        "vec_id < 200"
    )
    books = S.pq_train(emb, n_subspaces=8, n_codes=16)
    path = str(tmp_path / "pqidx")
    S.save_pq_index(emb, books, path)
    codes_df, books2 = S.load_pq_index(spark, path)
    assert np.array_equal(books, books2)
    mem = {r["vec_id"]: r["pq_code"]
           for r in S.pq_encode(emb, books).collect()}
    disk = {r["vec_id"]: r["pq_code"] for r in codes_df.collect()}
    assert mem == disk
    q = emb.where("vec_id = 5").collect()[0]["embedding"]
    top_mem = [(r["vec_id"], r["adc_score"]) for r in
               S.pq_topk(S.pq_encode(emb, books), books, q, k=5).collect()]
    top_disk = [(r["vec_id"], r["adc_score"]) for r in
                S.pq_topk(codes_df, books2, q, k=5).collect()]
    assert top_mem == top_disk
    # append: new ids encoded with the stored codebooks; retried ids
    # skipped under skip_existing
    more = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        "vec_id >= 200 AND vec_id < 210"
    )
    S.append_to_pq_index(more, path)
    S.append_to_pq_index(more, path, skip_existing=True)  # no-op retry
    codes3, _ = S.load_pq_index(spark, path)
    assert codes3.count() == 210
    assert codes3.where("vec_id = 205").count() == 1
    # crash discipline: delete the marker -> load refuses
    import os

    from cloudfabric_eventsourcing_spark import commit
    os.remove(os.path.join(path, commit._CONSISTENT))
    with _pytest.raises(ValueError, match="consistency marker"):
        S.load_pq_index(spark, path)


def test_minhash_candidate_budget_guard(spark):
    """The opt-in candidate-pair budget predicts the banding join
    volume from bucket sizes and refuses loudly over budget (the r11
    sf10 OOM lesson); under budget the output is identical to the
    unguarded call."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="candidate pairs"):
        dedup.minhash_lsh_pairs(docs, max_candidate_pairs=1)
    ok = dedup.minhash_lsh_pairs(docs, max_candidate_pairs=10_000_000)
    plain = dedup.minhash_lsh_pairs(docs)
    assert sorted(map(tuple, ok.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_minhash_budget_guard_respects_star_valve(spark):
    """When max_bucket_size is ALSO set, the budget estimate must count
    the VALVED join volume — n-1 star pairs for over-cap buckets, not
    n(n-1)/2 — or the guard refuses the exact configuration its own
    error message recommends (r11 advice).  30 near-identical docs put
    ~30-member buckets in every band: raw estimate ~32*435 pairs, but
    with max_bucket_size=4 each bucket stars to ~29 pairs (~32*29)."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(30)],
        "doc_id long, text string",
    )
    # budget sits between the starred volume (~928) and the raw
    # all-pairs volume (~13,920): valved call passes, unvalved refuses
    valved = dedup.minhash_lsh_pairs(
        docs, max_bucket_size=4, max_candidate_pairs=2_000
    )
    valved.collect()
    with _pytest.raises(ValueError, match="candidate pairs"):
        dedup.minhash_lsh_pairs(docs, max_candidate_pairs=2_000)


# round 13: PyAV adapter (r12 verdict #6) — decline path runs everywhere;
# the real-decode path self-skips where PyAV is absent


def test_pyav_adapter_declines_cleanly_without_av():
    """Contract: with no `av` installed, both adapter callables raise
    NotImplementedError (the decline signal), so injecting them is a
    no-op over the pure-Python floor — stock behavior unchanged."""
    import pytest as _pytest

    from cloudfabric_eventsourcing_spark.operators import av_adapter, codecs
    from cloudfabric_eventsourcing_spark.operators.multimodal import (
        _decode_audio,
        _decode_video,
    )

    frames = [bytes(range(12)), bytes(range(12, 24))]
    avi = codecs.encode_avi(2, 2, 10.0, frames)
    wav = codecs.encode_wav(8000, 1, 2, b"\x00\x01" * 64)
    if av_adapter.pyav_available():
        _pytest.skip("PyAV present: decline-path test is for the floor")
    with _pytest.raises(NotImplementedError):
        av_adapter.pyav_video_decoder(avi)
    with _pytest.raises(NotImplementedError):
        av_adapter.pyav_audio_decoder(wav)
    # injected into the operators' decode path, the decline falls
    # through to the built-in floor and the result is IDENTICAL
    assert _decode_video(avi, decoder=av_adapter.pyav_video_decoder) == (
        codecs.decode_avi(avi)
    )
    assert _decode_audio(wav, decoder=av_adapter.pyav_audio_decoder) == (
        codecs.decode_wav(wav)
    )
    assert av_adapter.available_decoders() == {}


def test_pyav_adapter_decodes_when_av_present():
    """When PyAV IS importable (not in this container; runs in a
    deployment image), the adapter must decode an MJPEG AVI through
    ffmpeg with the codecs return contract: same dims/fps, frame count,
    and top-down RGB byte length per frame."""
    import pytest as _pytest

    _pytest.importorskip("av")
    from cloudfabric_eventsourcing_spark.operators import av_adapter, codecs

    px = bytes((i * 7) % 256 for i in range(16 * 16 * 3))
    avi = codecs.encode_avi(
        16, 16, 10.0, [px, px], codec="mjpeg", quality=90
    )
    w, h, fps, frames = av_adapter.pyav_video_decoder(avi)
    assert (w, h, fps) == (16, 16, 10.0)
    assert len(frames) == 2 and all(len(f) == 16 * 16 * 3 for f in frames)
    wav = codecs.encode_wav(8000, 1, 2, b"\x00\x01" * 64)
    rate, ch, width, pcm = av_adapter.pyav_audio_decoder(wav)
    assert (rate, ch, width) == (8000, 1, 2) and len(pcm) == 128
    assert set(av_adapter.available_decoders()) == {"video", "audio"}


def test_dsir_empty_docs_weigh_zero_and_cached_features_match(spark, sf_dir):
    """DSIR scoring on the fixture corpus plus null/empty/whitespace
    documents: a null or empty document scores (0 grams, weight 0.0),
    and `cache_features=True` (one tokenize+md5 pass feeds the raw fit
    AND the scoring join) returns exactly the two-pass rows."""
    from cloudfabric_eventsourcing_spark.operators import sampling as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    edge = spark.createDataFrame(
        [
            (900001, None, "en"),
            (900002, "", "en"),
            (900003, "   \t ", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    both = docs.unionByName(edge)
    tgt = both.where("lang = 'en'")
    a = sorted(
        tuple(r) for r in S.dsir_log_weights(both, tgt).collect()
    )
    byid = {t[0]: t[1:] for t in a}
    assert byid[900001] == (0, 0.0)
    assert byid[900002] == (0, 0.0)
    # bit-identical: the fit's explode() equals the outer-explode rows
    # minus the null-b rows
    c = sorted(
        tuple(r)
        for r in S.dsir_log_weights(
            both, tgt, cache_features=True
        ).collect()
    )
    assert a == c


@pytest.mark.slow
def test_minhash_band_count_prefilter_and_cache_equal_exact(spark, sf_dir):
    """r12 verdict Next #2 levers: (a) cache_grams persists the gram
    table across signature build + verify re-attach; (c) the
    min_matching_bands pre-filter drops candidates co-occurring in
    fewer bands before the exact-verify join.  Both must leave the
    verified output IDENTICAL on the fixture corpus (a true pair at
    threshold .9 / r=4 / 32 bands misses 2 matching bands w.p. ~9e-14,
    and the statistic is deterministic — no RNG, so equality here is
    stable, not flaky), while the pre-filter measurably shrinks the
    candidate set it feeds to verification."""
    from cloudfabric_eventsourcing_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plain = sorted(
        map(tuple, dedup.minhash_lsh_pairs(docs, threshold=0.9).collect())
    )
    tuned = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(
                docs, threshold=0.9, min_matching_bands=2, cache_grams=True
            ).collect(),
        )
    )
    assert tuned == plain and len(plain) > 0
    # broadcast_grams is a plan-only change (map-side attach): identical
    bcast = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(
                docs, threshold=0.9, broadcast_grams=True
            ).collect(),
        )
    )
    assert bcast == plain
    # the filter does real work: candidate volume strictly shrinks
    cand_all = dedup.minhash_lsh_pairs(docs, verify=False).count()
    cand_f = dedup.minhash_lsh_pairs(
        docs, verify=False, min_matching_bands=2
    ).count()
    assert cand_f < cand_all
    # every verified pair survives the filter (subset of candidates)
    assert cand_f >= len(plain)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_matching_bands"):
        dedup.minhash_lsh_pairs(docs, min_matching_bands=0)
    with _pytest.raises(ValueError, match="min_matching_bands"):
        dedup.minhash_lsh_pairs(docs, min_matching_bands=33)
    # r14 (r13 verdict #2): min_matching_bands combined with the star
    # valve is now SOUND via censored-band slack — the r13 study
    # measured the naive combination dropping 54% of true pairs at
    # sf10 because over-cap buckets censor member-pair counts.  Force
    # the valve to engage on the fixture corpus (cap 16 is far below
    # its largest band bucket) and pin: filtered output == unfiltered
    # output under the SAME valve.
    valved = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(
                docs, threshold=0.9, max_bucket_size=16
            ).collect(),
        )
    )
    valved_f = sorted(
        map(
            tuple,
            dedup.minhash_lsh_pairs(
                docs,
                threshold=0.9,
                max_bucket_size=16,
                min_matching_bands=2,
            ).collect(),
        )
    )
    assert valved_f == valved and len(valved) > 0
    # non-vacuity: the cap actually engages (star rewiring changes the
    # candidate set vs the unvalved scan)
    cand_valved = dedup.minhash_lsh_pairs(
        docs, verify=False, max_bucket_size=16
    ).count()
    assert cand_valved != cand_all


@pytest.mark.slow
def test_semantic_dedup_arrow_matches_column_form(spark, sf_dir):
    """r13: the N x k scoring cross-join and in-cluster pairwise pass
    were the interpreted-HOF trap (sf10: 169 s).  The Arrow path must
    equal the Column form EXACTLY — same sequential-fold IEEE order,
    same Decimal HALF_UP rounding on the argmax margin set and the
    threshold boundary zone, same tie rules — on the fixture corpus
    AND a dirty one (null / empty / ragged / zero-norm vectors, which
    also exposed the Column form's own ANSI divide-by-zero on zero
    norms, now the NULL-cosine convention in both paths)."""
    from pyspark.sql import functions as F

    from cloudfabric_eventsourcing_spark.operators import dedup as D

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = max(8, int(emb.count() ** 0.5))
    cents = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    a = sorted(
        tuple(r)
        for r in D.semantic_dedup(
            emb, cents, 0.35, use_arrow=False
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in D.semantic_dedup(emb, cents, 0.35, use_arrow=True).collect()
    )
    assert a == b and len(a) == emb.count()
    dirty = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, None),
            (4, []),
            (5, [0.0, 0.0]),  # zero norm: NULL cosine, kept
            (6, [1.0, 2.0, 3.0]),  # ragged
            (7, [-1.0, 0.05]),
        ],
        "vec_id long, embedding array<double>",
    )
    dc = dirty.where("vec_id in (1, 7)").selectExpr(
        "vec_id as cid", "embedding"
    )
    da = sorted(
        tuple(r)
        for r in D.semantic_dedup(dirty, dc, 0.9, use_arrow=False).collect()
    )
    db = sorted(
        tuple(r)
        for r in D.semantic_dedup(dirty, dc, 0.9, use_arrow=True).collect()
    )
    assert da == db
    # 2 is removed by its lower-id near-neighbor 1; every degenerate
    # row survives with a deterministic cluster
    assert da == [
        (1, 1, True),
        (2, 1, False),
        (3, 1, True),
        (4, 1, True),
        (5, 1, True),
        (6, 1, True),
        (7, 7, True),
    ]
