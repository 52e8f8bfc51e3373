"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schema, partition-friendly layout, Arrow batch
shapes, mapInPandas signatures — is real and tested, and so is the image/
audio codec step:

  * images: PIL when importable (WebP/whatever the deployment
    installs), falling back to the dependency-free pure-Python decoders
    in operators/codecs.py — PNG (8/16-bit gray/RGB/RGBA/palette, all
    five scanline filters) and JPEG (T.81 baseline SOF0/1 AND
    progressive SOF2, restart intervals, 4:2:0) — so real PNG/JPEG
    bytes decode, resize, and featurize hermetically in this container
    (arithmetic-coded, lossless, and 12-bit JPEG still raise);
  * audio: RIFF/PCM WAV via the stdlib wave module (codecs.decode_wav);
  * video: RIFF/AVI demux for uncompressed-RGB and Motion-JPEG streams
    (codecs.decode_avi) AND MP4/ISO-BMFF demux for Motion-JPEG tracks
    (codecs.decode_mp4, full stsz/stsc/stco sample tables); inter-frame
    codecs (H.264...) genuinely need av/ffmpeg and raise the honest
    boundary — which every operator's
    ``decoder=`` injection point closes without a fork: pass a callable
    (bytes -> the codec tuple) and it runs FIRST, declining a blob by
    raising NotImplementedError to fall through to the built-in
    dispatch (contract at _decode_image).

`fake=True` remains on every operator as the hermetic stand-in (byte-hash
features, deterministic slicing) with identical output schemas — useful
for plumbing tests that should not depend on codec output.

Design notes for 100 TB:
  - binary payloads ride in their own column so column pruning skips them
    unless the operator touches bytes;
  - decode/feature steps are mapInPandas (per-partition Arrow batches), so
    the heavy work parallelizes with the scan and never collects;
  - outputs are fixed-size float arrays + scalar metadata -> downstream
    operators (ANN, dedup) compose directly.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloudfabric_eventsourcing_spark.operators import codecs as _codecs


def _decode_image(content: bytes, decoder=None) -> tuple[int, int, int, bytes]:
    """(width, height, channels, raw pixels) via an INJECTED decoder
    first when one is given, then PIL when available, then the
    pure-Python decoders (8/16-bit PNG; baseline + progressive JPEG).
    Raises ValueError / NotImplementedError for formats no path can
    handle (WebP/TIFF/... without PIL; arithmetic-coded, lossless, or
    12-bit JPEG always).

    Decoder-injection contract (shared by every media operator's
    ``decoder=``): the callable takes the raw bytes and returns the
    codec tuple.  It runs FIRST — a deployment injects one precisely to
    handle formats the built-in floor can't, so its intent outranks
    auto-detection — and declines a blob by raising NotImplementedError,
    which falls through to the built-in dispatch.  Any OTHER exception
    is a decode failure and flows into the operator's `on_error`
    policy, exactly like a built-in decoder's."""
    if decoder is not None:
        try:
            return decoder(content)
        except NotImplementedError:
            pass  # decoder declined this blob: built-in dispatch below
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]

        img = Image.open(io.BytesIO(content))
        img = img.convert("RGB")
        return img.width, img.height, 3, img.tobytes()
    except ImportError:
        pass
    if _codecs.is_jpeg(content):
        return _codecs.decode_jpeg(content)
    return _codecs.decode_png(content)


def _decode_video(content: bytes, decoder=None) -> tuple[int, int, float, list]:
    """(width, height, fps, [top-down RGB frames]) — injected decoder
    first (NotImplementedError falls through, the _decode_image
    contract), then the container floor: RIFF/AVI (uncompressed RGB /
    MJPEG) or MP4/ISO-BMFF (Motion-JPEG tracks).  The injection point
    is what closes the inter-frame boundary: a deployment with
    PyAV/ffmpeg passes ``decoder=`` and H.264/VP9 bytes decode without
    forking the operators."""
    if decoder is not None:
        try:
            return decoder(content)
        except NotImplementedError:
            pass
    if _codecs.is_mp4(content):
        return _codecs.decode_mp4(content)
    return _codecs.decode_avi(content)


def _decode_audio(content: bytes, decoder=None) -> tuple[int, int, int, bytes]:
    """(sample_rate, n_channels, sample_width_bytes, frames) — injected
    decoder first (same contract), then the RIFF/PCM WAV floor."""
    if decoder is not None:
        try:
            return decoder(content)
        except NotImplementedError:
            pass
    return _codecs.decode_wav(content)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_DDL = (
    "media_id long, width int, height int, n_bytes long, features array<float>"
)
FRAME_SAMPLE_DDL = "media_id long, frame_idx int, frame_bytes binary"


def _fake_decode(content: bytes, out_dim: int = 16) -> list[float]:
    """Deterministic stand-in for a pixel decoder: sha256-chain the bytes
    into out_dim floats in [0,1)."""
    feats = []
    h = content or b""
    for i in range(out_dim):
        h = hashlib.sha256(h + bytes([i])).digest()
        feats.append(int.from_bytes(h[:8], "big") / 2**64)
    return feats


def _check_on_error(on_error: str) -> None:
    if on_error not in ("raise", "null", "skip"):
        raise ValueError(
            f"on_error must be 'raise', 'null', or 'skip' (got {on_error!r})"
        )


def decode_image_features(
    df: DataFrame, fake: bool = False, out_dim: int = 16,
    on_error: str = "raise", decoder=None,
) -> DataFrame:
    """binary content -> fixed-size feature vector via mapInPandas.

    Real path (default): decode pixels (_decode_image: PIL or pure-PNG),
    emit the REAL width/height plus a normalized out_dim-bin luminance
    histogram (codecs.image_features).  `fake=True` keeps the
    deterministic byte-hash stand-in with metadata-derived dimensions —
    same schema, no codec dependency.

    `on_error` is the corrupt-content policy — at corpus scale some
    blobs WILL be truncated/mislabeled, and the default "raise" kills
    the whole job on the first one: "null" emits the row with null
    decoded fields (like null content — countable, joinable back for a
    quarantine report), "skip" drops it.  Decode failures only; nothing
    else is swallowed."""
    _check_on_error(on_error)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if fake:
                rows = {
                    "media_id": pdf["media_id"],
                    "width": pdf["meta"].map(lambda m: m["width"] if m else None),
                    "height": pdf["meta"].map(lambda m: m["height"] if m else None),
                    "n_bytes": pdf["content"].map(
                        lambda c: len(c) if c is not None else 0
                    ),
                    "features": pdf["content"].map(
                        lambda c: _fake_decode(
                            bytes(c) if c is not None else b"", out_dim
                        )
                    ),
                }
                yield pd.DataFrame(rows)
                continue
            out = {"media_id": [], "width": [], "height": [],
                   "n_bytes": [], "features": []}

            def null_row(mid, nb):
                out["media_id"].append(mid)
                out["width"].append(None)
                out["height"].append(None)
                out["n_bytes"].append(nb)
                out["features"].append(None)

            for _, row in pdf.iterrows():
                if row["content"] is None:
                    # content is nullable in MEDIA_SCHEMA: a null row
                    # yields null decoded fields instead of aborting
                    # the whole job on a codec error (r6 advice)
                    null_row(row["media_id"], 0)
                    continue
                content = bytes(row["content"])
                try:
                    w, h, ch, pixels = _decode_image(content, decoder)
                except Exception:
                    if on_error == "raise":
                        raise
                    if on_error == "null":
                        null_row(row["media_id"], len(content))
                    continue
                out["media_id"].append(row["media_id"])
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(len(content))
                out["features"].append(
                    _codecs.image_features(w, h, ch, pixels, out_dim)
                )
            if out["media_id"]:
                yield pd.DataFrame(out)

    schema = IMAGE_FEATURES_DDL.replace(
        "array<float>", "array<double>"
    )  # both decoders emit float64 histograms/hashes
    return df.where(F.col("kind") == "image").mapInPandas(run, schema)


def sample_frames(
    df: DataFrame, every_n: int = 10, fake: bool = False,
    on_error: str = "raise", decoder=None,
) -> DataFrame:
    """video binary -> sampled frame bytes (1 row per sampled frame).

    Real path (default): demux RIFF/AVI (uncompressed RGB / Motion
    JPEG, codecs.decode_avi) or MP4/ISO-BMFF (Motion-JPEG tracks,
    codecs.decode_mp4 — the container real corpora actually use; same
    dependency-free floor as PNG/JPEG/WAV) — take every ``every_n``-th
    frame, and emit each as a standalone PNG so the sampled frames
    compose directly with decode_image_features / resize_images.
    INTER-FRAME video (H.264 etc.) raises cleanly — motion-compensated
    codecs genuinely need av/ffmpeg, which deployments install on the
    executors and inject via ``decoder=``; the container floor is a
    floor, not a ceiling.
    Null content yields zero frames (exploding op, same contract as
    chunk_audio).  `on_error="skip"/"null"` tolerates corrupt
    containers (both drop them — an exploding op has no null row
    shape); default "raise" keeps strict semantics.  The fake path
    keeps the deterministic 64-byte slicer for hermetic plumbing
    tests."""
    _check_on_error(on_error)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_bytes": []}
            if not fake:
                for _, row in pdf.iterrows():
                    if row["content"] is None:
                        continue
                    try:
                        w, h, _fps, frames = _decode_video(
                            bytes(row["content"]), decoder
                        )
                    except Exception:
                        if on_error == "raise":
                            raise
                        continue
                    for idx in range(0, len(frames), every_n):
                        out["media_id"].append(row["media_id"])
                        out["frame_idx"].append(idx)
                        out["frame_bytes"].append(
                            _codecs.encode_png(w, h, 3, frames[idx])
                        )
                if out["media_id"]:
                    # empty frames infer numpy dtypes Arrow cannot map
                    # to binary columns — yield nothing instead
                    yield pd.DataFrame(out)
                continue
            for _, row in pdf.iterrows():
                content = bytes(row["content"]) if row["content"] is not None else b""
                n_frames = max(len(content) // 64, 1)
                for idx in range(0, n_frames, every_n):
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(content[idx * 64 : (idx + 1) * 64])
            yield pd.DataFrame(out)

    return df.where(F.col("kind") == "video").mapInPandas(run, FRAME_SAMPLE_DDL)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a synthetic media table from the documents table (text bytes
    as payload) — the in-container stand-in for a real media source, used
    by tests to exercise the full plumbing."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


RESIZE_DDL = (
    "media_id long, content binary, "
    "meta struct<mime:string,width:int,height:int,duration_ms:int>"
)


def resize_images(
    df: DataFrame, width: int, height: int, fake: bool = False,
    on_error: str = "raise", decoder=None,
) -> DataFrame:
    """image binary -> resized image binary with updated metadata, the
    standard pre-training normalization step.  Real path (default):
    decode (_decode_image), nearest-neighbor resample (vectorized numpy),
    re-encode PNG — output mime becomes image/png regardless of input.
    The fake path deterministically re-chains the payload to
    width*height//8 bytes so downstream size accounting is exercised
    without a codec.  Output keeps the MEDIA_SCHEMA column shapes
    (content + meta) so resize composes with decode_image_features /
    the media table unchanged.  `on_error="null"` emits a corrupt input
    as a null-content row (same shape as null input), `"skip"` drops
    it; default "raise"."""
    _check_on_error(on_error)

    target_bytes = max(width * height // 8, 1)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not fake:
                out = {"media_id": [], "content": [], "meta": []}
                def null_out(row):
                    m = row["meta"]
                    out["media_id"].append(row["media_id"])
                    out["content"].append(None)
                    out["meta"].append(
                        {
                            "mime": m["mime"] if m else None,
                            "width": width,
                            "height": height,
                            "duration_ms": m["duration_ms"] if m else None,
                        }
                    )

                for _, row in pdf.iterrows():
                    if row["content"] is None:
                        # null content passes through as null (r6
                        # advice) — there are no pixels to resample
                        null_out(row)
                        continue
                    content = bytes(row["content"])
                    try:
                        w, h, ch, pixels = _decode_image(content, decoder)
                    except Exception:
                        if on_error == "raise":
                            raise
                        if on_error == "null":
                            null_out(row)
                        continue
                    resized = _codecs.nearest_resize(
                        w, h, ch, pixels, width, height
                    )
                    m = row["meta"]
                    out["media_id"].append(row["media_id"])
                    out["content"].append(
                        _codecs.encode_png(width, height, ch, resized)
                    )
                    out["meta"].append(
                        {
                            "mime": "image/png",
                            "width": width,
                            "height": height,
                            "duration_ms": m["duration_ms"] if m else None,
                        }
                    )
                if out["media_id"]:
                    # empty meta lists infer float64, not struct — yield
                    # nothing for an all-skipped batch
                    yield pd.DataFrame(out)
                continue

            def shrink(c):
                content = bytes(c) if c is not None else b""
                if len(content) >= target_bytes:
                    return content[:target_bytes]
                h, out = content, bytearray(content)
                while len(out) < target_bytes:
                    h = hashlib.sha256(h).digest()
                    out.extend(h)
                return bytes(out[:target_bytes])

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": pdf["content"].map(shrink),
                    "meta": pdf["meta"].map(
                        lambda m: {
                            "mime": m["mime"] if m else None,
                            "width": width,
                            "height": height,
                            "duration_ms": m["duration_ms"] if m else None,
                        }
                    ),
                }
            )

    return df.where(F.col("kind") == "image").mapInPandas(run, RESIZE_DDL)


AUDIO_CHUNK_DDL = "media_id long, chunk_idx int, chunk_bytes binary, duration_ms int"


def chunk_audio(
    df: DataFrame, chunk_ms: int = 1000, fake: bool = False,
    on_error: str = "raise", decoder=None,
) -> DataFrame:
    """audio binary -> fixed-duration chunks (1 row per chunk), the audio
    sibling of sample_frames: the shape a speech/ASR feature pipeline
    consumes.  Real path (default): parse RIFF/PCM WAV headers
    (codecs.decode_wav), slice on FRAME boundaries at the file's actual
    sample rate, and emit each chunk as a standalone WAV (so chunks
    remain independently decodable downstream) with its true duration.
    The fake path treats the payload as 8 kB/s PCM-ish bytes and slices
    deterministically — schema, batching and partitioning are the real
    plumbing either way.  `on_error="skip"/"null"` drops corrupt
    containers (exploding op — no null row shape); default "raise"."""
    _check_on_error(on_error)

    bytes_per_ms = 8  # fake codec's fixed "sample rate"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "chunk_idx": [], "chunk_bytes": [],
                   "duration_ms": []}
            if not fake:
                for _, row in pdf.iterrows():
                    if row["content"] is None:
                        # null content yields zero chunks (this is an
                        # exploding op; r6 advice — do not feed b'' to
                        # the WAV parser and abort the job)
                        continue
                    content = bytes(row["content"])
                    try:
                        rate, n_ch, width, frames = _decode_audio(
                            content, decoder
                        )
                    except Exception:
                        if on_error == "raise":
                            raise
                        continue
                    frame_bytes = n_ch * width
                    frames_per_chunk = max(rate * chunk_ms // 1000, 1)
                    step = frames_per_chunk * frame_bytes
                    n_chunks = max((len(frames) + step - 1) // step, 1)
                    for idx in range(n_chunks):
                        piece = frames[idx * step:(idx + 1) * step]
                        out["media_id"].append(row["media_id"])
                        out["chunk_idx"].append(idx)
                        out["chunk_bytes"].append(
                            _codecs.encode_wav(rate, n_ch, width, piece)
                        )
                        out["duration_ms"].append(
                            len(piece) * 1000 // (rate * frame_bytes)
                        )
                if out["media_id"]:
                    yield pd.DataFrame(out)
                continue
            step = chunk_ms * bytes_per_ms
            for _, row in pdf.iterrows():
                content = bytes(row["content"]) if row["content"] is not None else b""
                n_chunks = max((len(content) + step - 1) // step, 1)
                for idx in range(n_chunks):
                    piece = content[idx * step : (idx + 1) * step]
                    out["media_id"].append(row["media_id"])
                    out["chunk_idx"].append(idx)
                    out["chunk_bytes"].append(piece)
                    out["duration_ms"].append(len(piece) // bytes_per_ms)
            yield pd.DataFrame(out)

    return df.where(F.col("kind") == "audio").mapInPandas(run, AUDIO_CHUNK_DDL)


def image_feature_vectors(
    df: DataFrame, out_dim: int = 16, fake: bool = False,
    on_error: str = "raise", decoder=None,
) -> DataFrame:
    """Image media rows -> (vec_id, embedding) in the exact shape the
    embedding operators consume (dedup.cosine_*, similarity.*,
    streaming vector curation): decode_image_features' luminance
    histogram re-labeled as an embedding column.  The glue that makes
    images a first-class DEDUP modality — see image_neardup_pairs."""
    feats = decode_image_features(
        df, fake=fake, out_dim=out_dim, on_error=on_error, decoder=decoder
    )
    return feats.where(F.col("features").isNotNull()).select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    )


def image_dhash(
    df: DataFrame, on_error: str = "raise", decoder=None
) -> DataFrame:
    """Perceptual fingerprint per image: decode -> 64-bit dHash
    (codecs.dhash_bits) -> (media_id, dhash long).  The histogram
    embedding (image_feature_vectors) sees global tone; dHash sees
    LAYOUT — gradients survive re-encode AND uniform brightness/contrast
    changes the histogram path is blind to.  Same mapInPandas /
    on_error / decoder= contract as every media operator; compose with
    dedup.hamming_neardup_pairs for near-dup pairs at corpus scale
    (banded joins, nothing all-pairs)."""
    _check_on_error(on_error)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "dhash": []}
            for _, row in pdf.iterrows():
                if row["content"] is None:
                    # null content -> null fingerprint row under EVERY
                    # on_error mode (the module's r6 contract, matching
                    # decode_image_features): absent media is data, not
                    # an error, and dropping the row would make dHash
                    # curation reports unable to account for every
                    # input (ADVICE r10).
                    out["media_id"].append(row["media_id"])
                    out["dhash"].append(None)
                    continue
                content = bytes(row["content"])
                try:
                    w, h, ch, pixels = _decode_image(content, decoder)
                    dh = _codecs.dhash_bits(w, h, ch, pixels)
                except Exception:
                    if on_error == "raise":
                        raise
                    if on_error == "null":
                        out["media_id"].append(row["media_id"])
                        out["dhash"].append(None)
                    continue
                out["media_id"].append(row["media_id"])
                out["dhash"].append(dh)
            if out["media_id"]:
                # nullable Int64: a None next to Python ints would make
                # pandas infer float64, which rounds hashes above 2**53
                out["dhash"] = pd.array(out["dhash"], dtype="Int64")
                yield pd.DataFrame(out)

    return df.where(F.col("kind") == "image").mapInPandas(
        run, "media_id long, dhash long"
    )


def image_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.995,
    out_dim: int = 16,
    bits: int = 8,
    seed: int = 42,
    fake: bool = False,
    on_error: str = "raise",
    decoder=None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs: decode -> fixed-size feature vector ->
    hyperplane-LSH bucketing -> exact cosine within buckets
    (dedup.cosine_neardup_pairs_lsh).  Returns (id_a, id_b, cosine).

    The feature floor is the deterministic luminance histogram
    (codecs.image_features) — robust to re-encoding (PNG vs JPEG of the
    same pixels land ~identical), NOT to crops/rotations; a deployment
    with a real vision encoder swaps the feature step and keeps the
    entire LSH/verify/curation machinery unchanged (the vectors are
    just an embedding column).  Scale shape inherited from the vector
    ops: decode is mapInPandas beside the scan, candidates are
    bucket-local, nothing corpus-sized shuffles."""
    from cloudfabric_eventsourcing_spark.operators import dedup as _dedup

    vecs = image_feature_vectors(
        df, out_dim=out_dim, fake=fake, on_error=on_error, decoder=decoder
    )
    return _dedup.cosine_neardup_pairs_lsh(
        vecs, threshold=threshold, dims=out_dim, bits=bits, seed=seed,
    )


AUDIO_FEATURES_DDL = (
    "media_id long, sample_rate int, n_samples long, features array<double>"
)


def _audio_features(
    content: bytes, out_dim: int, decoder=None
) -> tuple[int, int, list]:
    """(sample_rate, n_samples, out_dim spectral-band energies) from WAV
    bytes: mono-mix, magnitude spectrum (numpy rfft), log-spaced band
    pooling, L1 normalization.  Gain scaling and sample-width
    re-encodes of the same signal land ~identical vectors; time shifts
    and different signals do not — a real (if floor-grade) acoustic
    fingerprint, same status as the image histogram."""
    sr, nch, width, frames = _decode_audio(content, decoder)
    import numpy as np

    if width == 2:
        x = np.frombuffer(frames, np.int16).astype(np.float64)
    elif width == 1:
        x = np.frombuffer(frames, np.uint8).astype(np.float64) - 128.0
    elif width == 4:
        x = np.frombuffer(frames, np.int32).astype(np.float64)
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    n = x.size
    if n == 0:
        return sr, 0, [0.0] * out_dim
    mag = np.abs(np.fft.rfft(x))
    # log-spaced band edges over the positive spectrum (skip DC)
    edges = np.unique(
        np.round(
            np.logspace(0, np.log10(max(mag.size - 1, 2)), out_dim + 1)
        ).astype(int)
    )
    while edges.size < out_dim + 1:  # tiny clips: pad linear edges
        edges = np.unique(np.append(edges, edges[-1] + 1))
    bands = [
        float(mag[edges[i]:max(edges[i + 1], edges[i] + 1)].sum())
        for i in range(out_dim)
    ]
    total = sum(bands) or 1.0
    return sr, n, [b / total for b in bands]


def audio_feature_vectors(
    df: DataFrame, out_dim: int = 16, fake: bool = False,
    on_error: str = "raise", decoder=None,
) -> DataFrame:
    """Audio media rows -> (vec_id, embedding), the dedup-modality glue
    for audio (mirror of image_feature_vectors): WAV bytes -> normalized
    log-band spectrum via mapInPandas.  Null content yields no row.
    `fake=True` keeps the byte-hash stand-in; `on_error="skip"/"null"`
    drops corrupt blobs instead of aborting (vectors have no null
    shape); default "raise"."""
    _check_on_error(on_error)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "sample_rate": [], "n_samples": [],
                   "features": []}
            for _, row in pdf.iterrows():
                if row["content"] is None:
                    continue
                content = bytes(row["content"])
                if fake:
                    sr, n, feats = 0, len(content), _fake_decode(
                        content, out_dim
                    )
                else:
                    try:
                        sr, n, feats = _audio_features(
                            content, out_dim, decoder
                        )
                    except Exception:
                        if on_error == "raise":
                            raise
                        continue
                out["media_id"].append(row["media_id"])
                out["sample_rate"].append(sr)
                out["n_samples"].append(n)
                out["features"].append(feats)
            if out["media_id"]:
                # a batch whose rows were ALL null yields nothing: an
                # empty pandas frame infers float64 columns, which Arrow
                # cannot convert to list<double>
                yield pd.DataFrame(out)

    feats = df.where(F.col("kind") == "audio").mapInPandas(
        run, AUDIO_FEATURES_DDL
    )
    return feats.select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    )


def audio_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.995,
    out_dim: int = 16,
    bits: int = 8,
    seed: int = 42,
    fake: bool = False,
    on_error: str = "raise",
    decoder=None,
) -> DataFrame:
    """Near-duplicate AUDIO pairs — the acoustic twin of
    image_neardup_pairs: spectral-band embedding -> hyperplane-LSH ->
    exact cosine within buckets.  Same swap-in contract: a real audio
    encoder replaces the feature step, the LSH/verify/curation
    machinery is unchanged."""
    from cloudfabric_eventsourcing_spark.operators import dedup as _dedup

    vecs = audio_feature_vectors(
        df, out_dim=out_dim, fake=fake, on_error=on_error, decoder=decoder
    )
    return _dedup.cosine_neardup_pairs_lsh(
        vecs, threshold=threshold, dims=out_dim, bits=bits, seed=seed,
    )


def video_feature_vectors(
    df: DataFrame, out_dim: int = 16, every_n: int = 1, fake: bool = False,
    on_error: str = "raise", decoder=None,
) -> DataFrame:
    """Video media rows -> (vec_id, embedding), the dedup-modality glue
    for video (third modality beside image_feature_vectors /
    audio_feature_vectors): demux + decode every ``every_n``-th frame
    (sample_frames — AVI and MP4 Motion-JPEG, uncompressed AVI, or an
    injected ``decoder=`` for inter-frame codecs), featurize each frame
    through the image histogram floor, and mean-pool the per-frame
    vectors into one embedding per video.

    Scale shape: demux/decode ride mapInPandas beside the scan; the
    only exchange is the per-video mean (one groupBy on media_id whose
    values are out_dim-float arrays — frame-count bounded, never
    pixel-sized).  Mean pooling is frame-order-insensitive by
    construction, so collect_list's nondeterministic order cannot
    change the embedding beyond FP addition reordering (identical
    frames sum exactly).  A deployment with a real video encoder swaps
    this feature step and keeps the LSH/verify/curation machinery
    unchanged — the output is just (vec_id, embedding)."""
    frames = sample_frames(
        df, every_n=every_n, fake=fake, on_error=on_error, decoder=decoder
    )
    # sampled frames are standalone PNGs re-encoded by sample_frames
    # itself (or 64-byte slices on the fake path), so the image step
    # uses the built-in dispatch — an injected VIDEO decoder must not
    # see PNG bytes
    as_images = frames.select(
        F.col("media_id"),
        F.lit("image").alias("kind"),
        F.col("frame_bytes").alias("content"),
        F.lit(None)
        .cast("struct<mime:string,width:int,height:int,duration_ms:int>")
        .alias("meta"),
    )
    feats = decode_image_features(
        as_images, fake=fake, out_dim=out_dim, on_error=on_error
    )
    agg = (
        feats.where(F.col("features").isNotNull())
        .groupBy("media_id")
        .agg(F.collect_list("features").alias("fs"))
    )
    zero = F.array(*[F.lit(0.0) for _ in range(out_dim)])
    summed = F.aggregate(
        "fs", zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
    )
    mean = F.transform(summed, lambda v: v / F.size("fs"))
    return agg.select(
        F.col("media_id").alias("vec_id"), mean.alias("embedding")
    )


def video_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.995,
    out_dim: int = 16,
    bits: int = 8,
    seed: int = 42,
    every_n: int = 1,
    fake: bool = False,
    on_error: str = "raise",
    decoder=None,
) -> DataFrame:
    """Near-duplicate VIDEO pairs — the third modality twin of
    image_neardup_pairs / audio_neardup_pairs: frame-sampled mean-pooled
    histogram embedding -> hyperplane-LSH -> exact cosine within
    buckets.  Container-invariant at the floor: the same frames in an
    AVI and an MP4 decode to the same pixels, hence the same embedding
    (pinned by the m04 oracle row).  Same swap-in contract as the other
    modalities: replace the feature step, keep the machinery."""
    from cloudfabric_eventsourcing_spark.operators import dedup as _dedup

    vecs = video_feature_vectors(
        df, out_dim=out_dim, every_n=every_n, fake=fake,
        on_error=on_error, decoder=decoder,
    )
    return _dedup.cosine_neardup_pairs_lsh(
        vecs, threshold=threshold, dims=out_dim, bits=bits, seed=seed,
    )


MEDIA_ERRORS_DDL = (
    "media_id long, kind string, n_bytes long, error string, detail string"
)


def media_decode_errors(
    df: DataFrame, fake: bool = False,
    image_decoder=None, audio_decoder=None, video_decoder=None,
) -> DataFrame:
    """Quarantine report: one row per media blob the decoders CANNOT
    decode — (media_id, kind, n_bytes, error type, message).  The
    actionable side of on_error="null"/"skip": operators drop or
    null-out corrupt blobs to keep the job alive, and this report tells
    the pipeline owner exactly what to re-ingest or transcode.  Null
    content is reported as error="NullContent" (distinct from corrupt).
    Per-kind ``*_decoder=`` injections mirror the operators' ``decoder=``
    so the report judges blobs with the SAME decoder stack the pipeline
    runs (a PyAV deployment's H.264 files must not show up here).

    Scale shape: one mapInPandas pass, decode attempts only (pixels/
    samples are discarded immediately — no feature work); healthy blobs
    emit nothing, so output is proportional to the problem, not the
    corpus."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "kind": [], "n_bytes": [],
                   "error": [], "detail": []}

            def report(row, nb, err, detail):
                out["media_id"].append(row["media_id"])
                out["kind"].append(row["kind"])
                out["n_bytes"].append(nb)
                out["error"].append(err)
                out["detail"].append(detail[:200])

            for _, row in pdf.iterrows():
                if row["content"] is None:
                    report(row, 0, "NullContent", "")
                    continue
                content = bytes(row["content"])
                if fake:
                    continue  # the fake decoders accept anything
                try:
                    if row["kind"] == "image":
                        _decode_image(content, image_decoder)
                    elif row["kind"] == "audio":
                        _decode_audio(content, audio_decoder)
                    elif row["kind"] == "video":
                        _decode_video(content, video_decoder)
                    else:
                        report(row, len(content), "UnknownKind", row["kind"])
                except Exception as e:
                    report(row, len(content), type(e).__name__, str(e))
            if out["media_id"]:
                yield pd.DataFrame(out)

    return df.mapInPandas(run, MEDIA_ERRORS_DDL)
