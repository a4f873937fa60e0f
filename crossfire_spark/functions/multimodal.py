"""Multimodal column plumbing for LLM data pipelines.

Images/audio/video ride through Spark as opaque ``binary`` columns
with a typed metadata struct alongside. ``decode_image`` is REAL: PIL
when the executor env ships it, else a built-in pure-numpy PPM (P6)
codec — m04 runs a genuine encode→decode→resize round trip over
binary columns with a closed-form oracle. m01–m03 keep deterministic
byte-stream fake kernels (sha256 / histogram / stride-slice) so their
oracles hold on any build; production swaps the fake for
``decode_image`` inside the same closure. Everything Spark-side is
real and tested either way: schema, Arrow batch shape,
``mapInPandas`` signature, partition-size control.

Scale notes baked into the design:
- blobs never enter a shuffle key; metadata-only projections prune
  the binary column at the parquet scan (columnar: reading metadata
  costs nothing even when blobs are huge),
- feature extraction is ``mapInPandas`` (Arrow batches, one Python
  worker per partition, streaming iterator — bounded memory however
  big the table is),
- ``spark.sql.files.maxPartitionBytes`` + per-batch row caps keep a
  batch of blobs inside executor memory.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crossfire_spark.catalog import load_table, spread

# mapInPandas kernels in this module close over module-level codec
# functions (encode_ppm / decode_image / resize_nearest). Register the
# module for pickle-BY-VALUE so those closures carry the codecs with
# them instead of requiring crossfire_spark on every executor's
# sys.path — true when the driver runs from the repo root, false for a
# host application running elsewhere. The codecs are deliberately
# stdlib+numpy-only, so the by-value payload is a few KB.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
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

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("digest", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)

FEATURE_DIM = 8


def _pil():
    """PIL if importable, else None (this container ships without it;
    production images get it via the cluster's Python env)."""
    try:
        from PIL import Image  # noqa: F401

        return Image
    except ImportError:
        return None


def encode_ppm(arr) -> bytes:
    """Encode an (H, W, 3) uint8 array as binary PPM (P6) — pure
    numpy, no codec library needed. PPM is the plumbing-test format:
    real bytes, real header parse, zero dependencies."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w = a.shape[0], a.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def decode_ppm(content: bytes):
    """Decode binary PPM (P6) to an (H, W, 3) uint8 array — pure
    numpy. Handles '#' comments and arbitrary whitespace per the spec."""
    import numpy as np

    if not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval — tokens separated by
    # whitespace, '#' starts a comment to end-of-line
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3:
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":
            while i < len(content) and content[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while i < len(content) and not content[i : i + 1].isspace():
            i += 1
        tokens.append(content[start:i])
    i += 1  # single whitespace after maxval, then raw data
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    data = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=i)
    return data.reshape(h, w, 3)


AUDIO_SR = 8000


def encode_wav(samples, sr: int = AUDIO_SR) -> bytes:
    """Encode unsigned-8-bit mono PCM samples as a real RIFF/WAV file
    via the stdlib ``wave`` codec — genuine container format, zero
    external dependencies."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sr)
        w.writeframes(np.asarray(samples, dtype=np.uint8).tobytes())
    return buf.getvalue()


def decode_wav(content: bytes):
    """Decode a RIFF/WAV byte stream → (samples uint8 array, sample
    rate) via the stdlib ``wave`` codec (8-bit mono PCM)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content), "rb") as w:
        if w.getsampwidth() != 1 or w.getnchannels() != 1:
            raise ValueError("only 8-bit mono PCM supported")
        sr = w.getframerate()
        frames = w.readframes(w.getnframes())
    return np.frombuffer(frames, dtype=np.uint8), sr


def decode_image(content: bytes):
    """REAL image decode → (H, W, 3) uint8 numpy array.

    PIL when available (JPEG/PNG/anything), else the built-in
    pure-numpy PPM parser. Other formats without PIL raise — a
    production deployment ships the codec in the executor env; the
    Spark plumbing (binary columns, Arrow batches, mapInPandas
    signature) is identical either way.
    """
    import numpy as np

    Image = _pil()
    if Image is not None:
        import io

        return np.asarray(Image.open(io.BytesIO(content)).convert("RGB"))
    if content.startswith(b"P6"):
        return decode_ppm(content)
    raise NotImplementedError(
        "only PPM decodes without a codec library; install PIL/opencv "
        "in the executor env for JPEG/PNG — the Spark plumbing around "
        "this call is format-agnostic"
    )


def resize_nearest(arr, width: int, height: int):
    """Nearest-neighbor resize via pure-numpy index sampling —
    deterministic on every build (no interpolation library variance)."""
    import numpy as np

    a = np.asarray(arr)
    h, w = a.shape[0], a.shape[1]
    rows = np.minimum((np.arange(height) * h) // height, h - 1)
    cols = np.minimum((np.arange(width) * w) // width, w - 1)
    return a[rows][:, cols]


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from ``documents`` (the
    container ships no real blobs): content = utf-8 of the text,
    metadata derived from doc fields. Real pipelines read parquet/
    Iceberg with an actual binary column — same schema."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            (F.col("n_chars") % 1920).cast("int").alias("width"),
            (F.col("n_chars") % 1080).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame, batch_rows: int = 256) -> DataFrame:
    """Feature extraction over binary content via ``mapInPandas``.

    Iterator-of-batches signature: bounded memory no matter how many
    blobs a partition holds; Arrow moves the bytes without pickling.
    """

    # NOTE: the closure must be fully self-contained (no references to
    # crossfire_spark module globals): cloudpickle serializes module
    # globals by reference, and executor Python workers do not have
    # this repo on sys.path when the driver runs from elsewhere.
    dim = FEATURE_DIM

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def feats(content: bytes) -> list[float]:
            if not content:
                return [0.0] * dim
            step = max(len(content) // dim, 1)
            return [
                float(sum(content[i : i + step]) % 997) / 997.0
                for i in range(0, step * dim, step)
            ][:dim]

        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"],
                        "n_bytes": chunk["content"].map(len).astype("int64"),
                        "digest": chunk["content"].map(
                            lambda b: hashlib.sha256(b).hexdigest()
                        ),
                        "feature": chunk["content"].map(feats),
                    }
                )

    return media.select("media_id", "content").mapInPandas(
        extract, schema=FEATURE_SCHEMA
    )


RESIZE_W, RESIZE_H = 224, 224
FRAME_STRIDE = 1000  # bytes per sampled "frame" in the fake kernel


def resize_images(media: DataFrame, width: int = RESIZE_W, height: int = RESIZE_H) -> DataFrame:
    """Image resize pipeline. The decode→resize→re-encode kernel is a
    deterministic FAKE (no codec libs in this container — production
    swaps in PIL/opencv inside the same closure); the Spark plumbing
    is real: binary in, binary out, metadata struct updated, Arrow
    batches, bounded memory."""

    def kernel(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            # fake resize: content -> digest-seeded byte payload of
            # (width*height)//1000 bytes, deterministic per input
            def rz(b: bytes) -> bytes:
                seed = hashlib.sha256(b).digest()
                n = max((width * height) // 1000, 32)
                return (seed * (n // len(seed) + 1))[:n]

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": pdf["content"].map(rz),
                    "width": width,
                    "height": height,
                    "orig_bytes": pdf["content"].map(len).astype("int64"),
                }
            )

    return media.where(F.col("kind") == "image").select(
        "media_id", "content"
    ).mapInPandas(
        kernel,
        schema="media_id long, content binary, width int, height int, orig_bytes long",
    )


def sample_frames(media: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Video frame sampling: one row per sampled frame (explode-style
    fan-out inside the Python worker). Fake kernel slices the byte
    stream at fixed strides; a real one seeks keyframes via ffmpeg.
    Output grows by the frame count — the partition-size note from
    the module docstring applies doubly here."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out_ids, out_idx, out_frames = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                for i, off in enumerate(range(0, len(content), stride)):
                    out_ids.append(mid)
                    out_idx.append(i)
                    out_frames.append(bytes(content[off : off + stride]))
            yield pd.DataFrame(
                {"media_id": out_ids, "frame_idx": out_idx, "frame": out_frames}
            )

    return media.where(F.col("kind") == "video").select(
        "media_id", "content"
    ).mapInPandas(kernel, schema="media_id long, frame_idx int, frame binary")


def m02_image_resize(spark, sf_dir):
    """Declared resize pipeline: metadata of resized images (the
    binary itself stays out of the result — blobs don't belong in
    driver-collected outputs). Rows-only driver check."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    media = synthesize_media(docs)
    out = resize_images(media)
    return out.select(
        "media_id",
        "width",
        "height",
        "orig_bytes",
        F.length("content").alias("new_bytes"),
    ).orderBy("media_id", "width", "height", "orig_bytes", "new_bytes")


def m03_frame_sample(spark, sf_dir):
    """Declared frame-sampling pipeline: per-video frame counts and
    sizes. Rows-only driver check."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    media = synthesize_media(docs)
    frames = sample_frames(media)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.length("frame")).alias("total_bytes"),
        )
        .orderBy("media_id", "n_frames", "total_bytes")
    )


def m01_media_features(spark, sf_dir):
    """Declared pipeline: synth media -> mapInPandas features ->
    metadata join. Driver records a rows-only check (the sha256/
    histogram kernels are deterministic, so rows are stable)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    media = synthesize_media(docs)
    feats = extract_features(media)
    return (
        feats.join(media.select("media_id", "kind", "meta.width", "meta.height"), "media_id")
        .select(
            "media_id",
            "kind",
            "n_bytes",
            "digest",
            F.round(F.element_at("feature", 1), 4).alias("f0"),
            "width",
            "height",
        )
        .orderBy("media_id", "kind", "n_bytes", "digest", "f0", "width", "height")
    )


def synthesize_ppm_images(docs: DataFrame) -> DataFrame:
    """Deterministic real PPM images derived from ``documents``: a
    (4+id%5) x (3+id%4) image whose R/G/B channels are the constants
    (id, 2·id, 3·id) mod 251 — every byte is a closed-form function of
    doc_id, so a decoder's output is DuckDB-checkable while the bytes
    themselves round-trip a real image format."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                w, h = 4 + did % 5, 3 + did % 4
                arr = np.empty((h, w, 3), dtype=np.uint8)
                for c in range(3):
                    arr[:, :, c] = (did * (c + 1)) % 251
                out.append(encode_ppm(arr))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": out})

    return docs.select("doc_id").mapInPandas(
        kernel, schema="media_id long, content binary"
    )


def image_stats(media: DataFrame, width: int = RESIZE_W, height: int = RESIZE_H) -> DataFrame:
    """REAL decode → resize → per-channel stats over a binary image
    column: ``decode_image`` (PIL or the numpy PPM parser), nearest
    resize, channel means. The full multimodal hot path — bytes in,
    Arrow batches, numpy kernels, stats out — with no fake anywhere."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                rz = resize_nearest(arr, width, height)
                m = rz.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        mid,
                        arr.shape[1],
                        arr.shape[0],
                        rz.shape[1],
                        rz.shape[0],
                        round(float(m[0]), 4),
                        round(float(m[1]), 4),
                        round(float(m[2]), 4),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "rz_w", "rz_h",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        kernel,
        schema="media_id long, width int, height int, rz_w int, rz_h int,"
        " mean_r double, mean_g double, mean_b double",
    )


AUDIO_MAX_SAMPLES = 400


def synthesize_wav_audio(docs: DataFrame) -> DataFrame:
    """Deterministic real WAV clips for the 'audio' documents
    (doc_id % 3 == 1, the m01 kind convention): sample i of clip d is
    (d·(i+1)) mod 251, n = min(n_chars, 400) samples — every byte of
    the PCM payload is a closed-form function of (doc_id, i), so a
    decoder's output is DuckDB-checkable while the bytes round-trip a
    genuine RIFF/WAV container."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
                n = min(int(nch), AUDIO_MAX_SAMPLES)
                i = np.arange(n, dtype=np.int64)
                samples = ((did * (i + 1)) % 251).astype(np.uint8)
                out.append(encode_wav(samples))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": out})

    return docs.where(F.col("doc_id") % 3 == 1).select(
        "doc_id", "n_chars"
    ).mapInPandas(kernel, schema="media_id long, content binary")


def audio_stats(media: DataFrame) -> DataFrame:
    """REAL decode → waveform stats over a binary audio column:
    stdlib WAV codec, then vectorized numpy RMS / peak / zero-crossing
    analysis — the audio twin of ``image_stats``. Centered at the
    8-bit midpoint 128; a zero crossing is a strict sign change
    between consecutive samples."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, sr = decode_wav(bytes(content))
                c = samples.astype(np.int64) - 128
                rms = float(np.sqrt((c * c).mean()))
                peak = int(np.abs(c).max())
                zc = int(((c[:-1] * c[1:]) < 0).sum())
                rows.append(
                    (mid, len(samples), sr, round(round(rms, 6) + 1e-9, 4), peak, zc)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "sr", "rms", "peak", "zc"],
            )

    return media.select("media_id", "content").mapInPandas(
        kernel,
        schema="media_id long, n_samples long, sr long, rms double,"
        " peak long, zc long",
    )


def m05_audio_decode(spark, sf_dir):
    """Real-codec audio pipeline: synthesize actual RIFF/WAV bytes per
    'audio' document, decode them with the stdlib wave codec, and
    report sample count / rate / RMS / peak / zero crossings.
    Closed-form PCM makes every output value a function of
    (doc_id, i) → full DuckDB oracle over a genuine encode→decode
    round trip (the audio twin of m04)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return audio_stats(synthesize_wav_audio(docs)).orderBy(
        "media_id", "n_samples", "sr", "rms", "peak", "zc"
    )


def m06_keyframes(spark, sf_dir):
    """Keyframe selection over the 'video' documents (doc_id % 3 == 2,
    the m01 kind convention): the synthesized byte stream splits into
    1000-byte frames (the m03 stride), each frame scores by byte
    variance, and the argmax frame per clip is the keyframe (ties →
    earliest frame) — the frame a thumbnailing/sampling pipeline
    keeps. Deterministic byte streams make the score closed-form →
    full DuckDB oracle; the Spark side really slices frames from
    binary content in an Arrow kernel.

    Variance is computed in exact integer arithmetic
    (n·Σx² − (Σx)², scaled — no division, no float) so the ranking is
    bit-identical in any engine."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = np.frombuffer(bytes(content), dtype=np.uint8).astype(
                    np.int64
                )
                n_frames = (len(b) + 999) // 1000
                best, best_score = 0, -1
                for fi in range(n_frames):
                    fr = b[fi * 1000 : (fi + 1) * 1000]
                    n = len(fr)
                    score = int(n * (fr * fr).sum() - int(fr.sum()) ** 2)
                    if score > best_score:
                        best, best_score = fi, score
                rows.append((mid, n_frames, best, best_score))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_frames", "keyframe", "score"],
            )

    docs = spread(load_table(spark, sf_dir, "documents"))
    media = synthesize_media(docs.where(F.col("doc_id") % 3 == 2))
    return (
        media.select("media_id", "content")
        .mapInPandas(
            kernel,
            schema="media_id long, n_frames long, keyframe long, score long",
        )
        .orderBy("media_id", "n_frames", "keyframe", "score")
    )


def m04_image_decode(spark, sf_dir):
    """Real-codec pipeline: synthesize actual PPM bytes per document,
    decode them with the real parser, resize, and report dimensions +
    channel means. Constant-channel inputs make every output value
    closed-form in doc_id → full DuckDB oracle over a genuine binary
    encode→decode round trip."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return image_stats(synthesize_ppm_images(docs)).orderBy(
        "media_id", "width", "height", "rz_w", "rz_h",
        "mean_r", "mean_g", "mean_b",
    )


DHASH_PATTERNS = 50  # distinct base patterns in the synthetic corpus
DHASH_W, DHASH_H = 9, 8  # dHash sampling grid (64 gradient bits)


def synthesize_gradient_images(docs: DataFrame) -> DataFrame:
    """Real PPM images with a controlled near-duplicate structure:
    each doc renders base pattern ``doc_id % DHASH_PATTERNS`` (a 16x12
    gray grid, values < 200, drawn from the frozen legacy MT19937
    keyed by the pattern id) PLUS a per-doc uniform brightness offset
    (< 55, so no byte ever clips). Same pattern + different
    brightness = the canonical perceptual near-duplicate pair."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                p = did % DHASH_PATTERNS
                bright = (did // DHASH_PATTERNS) % 55
                # legacy RandomState = frozen MT19937: the pattern is
                # a stable deterministic function of p on every build
                base = np.random.RandomState(int(p)).randint(
                    0, 200, size=(12, 16)
                )
                gray = (base + bright).astype(np.uint8)
                out.append(encode_ppm(np.stack([gray] * 3, axis=-1)))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": out})

    return docs.select("doc_id").mapInPandas(
        kernel, schema="media_id long, content binary"
    )


def dhash_images(media: DataFrame) -> DataFrame:
    """(media_id, dh) — difference hash over a binary image column:
    REAL decode (PIL or the PPM parser), nearest resize to the 9x8
    grid, 64 horizontal-gradient sign bits as a hex string. dHash is
    brightness-invariant by construction (a uniform offset cancels in
    every adjacent-pixel difference) — the property perceptual dedup
    relies on."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            mids, hashes = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                gray = arr.mean(axis=2)
                small = resize_nearest(gray, DHASH_W, DHASH_H)
                bits = (small[:, 1:] > small[:, :-1]).flatten()
                val = 0
                for b in bits:
                    val = (val << 1) | int(b)
                mids.append(mid)
                hashes.append(f"{val:016x}")
            yield pd.DataFrame({"media_id": mids, "dh": hashes})

    return media.select("media_id", "content").mapInPandas(
        kernel, schema="media_id long, dh string"
    )


def m07_image_neardup(spark, sf_dir):
    """Perceptual image dedup over a REAL codec path: synthesize PPM
    bytes (pattern + per-doc brightness), decode, dHash, cluster on
    the hash. Brightness-shifted renders of one pattern collapse into
    one cluster, so the cluster report equals GROUP BY
    ``doc_id % DHASH_PATTERNS`` — a closed-form DuckDB oracle over a
    genuine decode→resize→hash pipeline (distinct patterns hashing
    distinctly is deterministic in the construction; the oracle match
    at both SFs pins it).

    Scale shape: the hash kernel is mapInPandas (Arrow batches, blobs
    never shuffle); clustering shuffles 8-byte hashes only — the
    whole corpus of image bytes reduces to (id, hash) before any
    exchange, exactly how a production perceptual-dedup pass stays
    I/O-bound instead of shuffle-bound."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hashes = dhash_images(synthesize_gradient_images(docs))
    return (
        hashes.groupBy("dh")
        .agg(
            F.min("media_id").alias("cluster_rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cluster_rep", "n_members")
        .orderBy("cluster_rep", "n_members")
    )


AFP_PATTERNS = 40   # distinct base waveforms in the synthetic corpus
AFP_SAMPLES = 400   # samples per clip


def synthesize_gain_wavs(docs: DataFrame) -> DataFrame:
    """Real RIFF/WAV clips with controlled near-duplicate structure:
    each doc renders base waveform ``doc_id % AFP_PATTERNS`` (signed
    magnitudes 1..40 from the frozen legacy MT19937 keyed by the
    pattern) at an integer GAIN of 1-3 (128 ± 3·40 never clips
    uint8). Same waveform at different gain = the canonical loudness-
    normalized audio near-duplicate pair."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                p = did % AFP_PATTERNS
                gain = 1 + (did // AFP_PATTERNS) % 3
                r = np.random.RandomState(int(p))
                mag = r.randint(1, 41, AFP_SAMPLES)
                sgn = r.randint(0, 2, AFP_SAMPLES) * 2 - 1
                samples = (128 + gain * mag * sgn).astype(np.uint8)
                out.append(encode_wav(samples))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": out})

    return docs.select("doc_id").mapInPandas(
        kernel, schema="media_id long, content binary"
    )


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(media_id, fp) — gain-invariant audio fingerprint over a binary
    WAV column: REAL stdlib-wave decode, then the md5 of the per-
    sample SIGN bit stream (sign(g·x) = sign(x), so uniform gain
    cancels — the zero-crossing-pattern idea every audio-dedup
    fingerprint builds on)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            mids, fps = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, _sr = decode_wav(bytes(content))
                bits = bytes((samples > 128).astype("uint8"))
                mids.append(mid)
                fps.append(hashlib.md5(bits).hexdigest())
            yield pd.DataFrame({"media_id": mids, "fp": fps})

    return media.select("media_id", "content").mapInPandas(
        kernel, schema="media_id long, fp string"
    )


def m08_audio_neardup(spark, sf_dir):
    """Gain-invariant audio dedup over a REAL codec path (the audio
    twin of m07): synthesize WAV bytes (waveform ⊕ gain), decode,
    sign-fingerprint, cluster on the fingerprint. Gain-shifted renders
    of one waveform collapse into one cluster, so the report equals
    GROUP BY ``doc_id % AFP_PATTERNS`` — a closed-form DuckDB oracle
    over a genuine decode→fingerprint pipeline. Audio bytes never
    shuffle; only 16-byte fingerprints do."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    fps = audio_fingerprints(synthesize_gain_wavs(docs))
    return (
        fps.groupBy("fp")
        .agg(
            F.min("media_id").alias("cluster_rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cluster_rep", "n_members")
        .orderBy("cluster_rep", "n_members")
    )


QUERIES = {
    "m01_media_features": m01_media_features,
    "m02_image_resize": m02_image_resize,
    "m03_frame_sample": m03_frame_sample,
    "m04_image_decode": m04_image_decode,
    "m05_audio_decode": m05_audio_decode,
    "m06_keyframes": m06_keyframes,
    "m07_image_neardup": m07_image_neardup,
    "m08_audio_neardup": m08_audio_neardup,
}
# All three kernels are deterministic functions of the byte stream,
# so all three mapInPandas pipelines get full DuckDB oracles: m01
# restates sha256 + the byte-histogram moment, m02's resized payload
# size is closed-form (max((224*224)//1000, 32) = 50 bytes), and
# m03's frame fan-out is ceil(bytes/stride) rows summing back to the
# byte count — the oracle checks the real Spark plumbing (binary
# columns, Arrow batches, worker-side explode) against closed forms.
ORACLE_SQL: dict[str, str] = {
    "m02_image_resize": """
        SELECT doc_id media_id, CAST(224 AS INT) width, CAST(224 AS INT) height,
               CAST(octet_length(encode(text)) AS BIGINT) orig_bytes,
               CAST(50 AS INT) new_bytes
        FROM documents WHERE doc_id % 3 = 0
        ORDER BY media_id, width, height, orig_bytes, new_bytes""",
    "m03_frame_sample": """
        SELECT doc_id media_id,
               CAST(CEIL(octet_length(encode(text)) / 1000.0) AS BIGINT) n_frames,
               CAST(octet_length(encode(text)) AS BIGINT) total_bytes
        FROM documents WHERE doc_id % 3 = 2
        ORDER BY media_id, n_frames, total_bytes""",
    "m01_media_features": """
        WITH m AS (SELECT doc_id media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END kind,
               text,
               CAST(length(text) AS BIGINT) n_bytes,
               greatest(length(text) // 8, 1) step,
               CAST(n_chars % 1920 AS INT) width,
               CAST(n_chars % 1080 AS INT) height
        FROM documents)
        SELECT media_id, kind, n_bytes, sha256(text) digest,
               ROUND((SELECT SUM(ord(substr(m.text, i, 1)))
                      FROM UNNEST(range(1, step + 1)) u(i)) % 997 / 997.0,
                     4) f0,
               width, height
        FROM m
        ORDER BY media_id, kind, n_bytes, digest, f0, width, height""",
    # m04: constant-channel PPMs → every decoded/resized stat is a
    # closed form of doc_id; the Spark side really encodes, decodes,
    # and resizes the bytes.
    "m04_image_decode": """
        SELECT doc_id media_id,
               CAST(4 + doc_id % 5 AS INT) width,
               CAST(3 + doc_id % 4 AS INT) height,
               CAST(224 AS INT) rz_w, CAST(224 AS INT) rz_h,
               CAST(doc_id % 251 AS DOUBLE) mean_r,
               CAST((doc_id * 2) % 251 AS DOUBLE) mean_g,
               CAST((doc_id * 3) % 251 AS DOUBLE) mean_b
        FROM documents
        ORDER BY media_id, width, height, rz_w, rz_h, mean_r, mean_g, mean_b""",
    # m05: closed-form PCM → RMS/peak/zero-crossings restate exactly
    # in SQL over a generated sample index; the Spark side really
    # round-trips a RIFF/WAV container through the stdlib codec.
    # m06: frame scores restate as exact integer arithmetic over the
    # text's ASCII bytes (ord(substr) = byte value for ASCII input).
    "m06_keyframes": """
        WITH v AS (SELECT doc_id media_id, text, length(text) n
                   FROM documents WHERE doc_id % 3 = 2),
        b AS (SELECT media_id, (i - 1) // 1000 fi, ord(substr(text, i, 1)) x
              FROM v, unnest(range(1, n + 1)) t(i)),
        fs AS (SELECT media_id, fi, COUNT(*) n, SUM(x * x) sxx, SUM(x) sx
               FROM b GROUP BY media_id, fi),
        sc AS (SELECT media_id, fi, CAST(n * sxx - sx * sx AS BIGINT) score
               FROM fs),
        nf AS (SELECT media_id, COUNT(*) n_frames FROM sc GROUP BY media_id),
        r AS (SELECT media_id, fi, score,
                     ROW_NUMBER() OVER (PARTITION BY media_id
                         ORDER BY score DESC, fi) rn
              FROM sc)
        SELECT r.media_id, nf.n_frames, r.fi keyframe, r.score
        FROM r JOIN nf USING (media_id) WHERE rn = 1
        ORDER BY media_id, n_frames, keyframe, score""",
    "m05_audio_decode": f"""
        WITH d AS (SELECT doc_id, LEAST(n_chars, {AUDIO_MAX_SAMPLES}) n
                   FROM documents WHERE doc_id % 3 = 1),
        s AS (SELECT d.doc_id, d.n, t.i,
                     (d.doc_id * (t.i + 1)) % 251 - 128 c
              FROM d, unnest(range(0, d.n)) t(i)),
        x AS (SELECT doc_id, n, i, c,
                     lead(c) OVER (PARTITION BY doc_id ORDER BY i) nx
              FROM s)
        SELECT doc_id media_id, n n_samples, CAST({AUDIO_SR} AS BIGINT) sr,
               ROUND(ROUND(sqrt(AVG(c * c)), 6) + 1e-9, 4) rms,
               MAX(ABS(c)) peak,
               CAST(COUNT(*) FILTER (c * nx < 0) AS BIGINT) zc
        FROM x GROUP BY doc_id, n
        ORDER BY media_id, n_samples, sr, rms, peak, zc""",
}

ORACLE_SQL["m07_image_neardup"] = f"""
        SELECT MIN(doc_id) cluster_rep, COUNT(*) n_members
        FROM documents
        GROUP BY doc_id % {DHASH_PATTERNS}
        ORDER BY cluster_rep, n_members"""

ORACLE_SQL["m08_audio_neardup"] = f"""
        SELECT MIN(doc_id) cluster_rep, COUNT(*) n_members
        FROM documents
        GROUP BY doc_id % {AFP_PATTERNS}
        ORDER BY cluster_rep, n_members"""


VAD_WINDOW = 50     # samples per energy window
VAD_TAU = 5250      # mean-square energy threshold (integer compare)


def audio_vad_trim(media: DataFrame) -> DataFrame:
    """REAL decode → voice-activity trim over a binary audio column:
    stdlib WAV decode, then fixed windows of ``VAD_WINDOW`` samples
    score by integer energy (sum of squared centered samples); a
    window is voiced iff ``sum_sq >= VAD_TAU * window_len`` — an
    ALL-INTEGER predicate, so silence borders are engine-exact with
    no float discipline needed. Per clip: window counts, the trimmed
    sample bounds (first/last voiced window), and the longest voiced
    run — the speech-segmentation step an audio-training pipeline
    runs before transcription/feature extraction.

    Scale shape: embarrassingly parallel mapInPandas (state = one
    clip); no shuffle before the deterministic ORDER BY. Clips with
    no voiced window report zero bounds (-1) rather than dropping."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, _sr = decode_wav(bytes(content))
                c = samples.astype(np.int64) - 128
                n = len(c)
                n_win = (n + VAD_WINDOW - 1) // VAD_WINDOW
                voiced = []
                for w in range(n_win):
                    seg = c[w * VAD_WINDOW : (w + 1) * VAD_WINDOW]
                    voiced.append(
                        int((seg * seg).sum()) >= VAD_TAU * len(seg)
                    )
                idx = [w for w, v in enumerate(voiced) if v]
                run = best = 0
                for v in voiced:
                    run = run + 1 if v else 0
                    best = max(best, run)
                rows.append(
                    (
                        mid,
                        n,
                        n_win,
                        len(idx),
                        idx[0] * VAD_WINDOW if idx else -1,
                        min((idx[-1] + 1) * VAD_WINDOW, n) if idx else -1,
                        best,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "n_windows", "n_voiced",
                    "trim_start", "trim_end", "longest_run",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        kernel,
        schema="media_id long, n_samples long, n_windows long,"
        " n_voiced long, trim_start long, trim_end long, longest_run long",
    )


def m09_audio_vad_trim(spark, sf_dir):
    """Real-codec VAD trim: synthesize RIFF/WAV bytes per 'audio'
    document, decode, window, and report silence-trimmed bounds.
    Closed-form PCM + all-integer energy predicate → full DuckDB
    oracle over the genuine encode→decode round trip."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return audio_vad_trim(synthesize_wav_audio(docs)).orderBy(
        "media_id", "n_samples", "n_windows", "n_voiced",
        "trim_start", "trim_end", "longest_run",
    )


QUERIES["m09_audio_vad_trim"] = m09_audio_vad_trim

ORACLE_SQL["m09_audio_vad_trim"] = f"""
        WITH d AS (SELECT doc_id, LEAST(n_chars, {AUDIO_MAX_SAMPLES}) n
                   FROM documents WHERE doc_id % 3 = 1),
        s AS (SELECT d.doc_id, d.n, t.i, t.i // {VAD_WINDOW} w,
                     (d.doc_id * (t.i + 1)) % 251 - 128 c
              FROM d, unnest(range(0, d.n)) t(i)),
        wins AS (SELECT doc_id, n, w, SUM(c * c) ss, COUNT(*) wn
                 FROM s GROUP BY doc_id, n, w),
        v AS (SELECT doc_id, n, w,
                     (ss >= {VAD_TAU} * wn) voiced,
                     w - CAST(SUM(CASE WHEN ss >= {VAD_TAU} * wn THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY w) AS BIGINT) grp
              FROM wins),
        runs AS (SELECT doc_id, COUNT(*) run_len
                 FROM v WHERE voiced GROUP BY doc_id, grp)
        SELECT v.doc_id media_id,
               MAX(v.n) n_samples,
               COUNT(*) n_windows,
               CAST(COUNT(*) FILTER (voiced) AS BIGINT) n_voiced,
               COALESCE(MIN(CASE WHEN voiced THEN w END) * {VAD_WINDOW}, -1) trim_start,
               CASE WHEN MAX(CASE WHEN voiced THEN w END) IS NULL THEN -1
                    ELSE LEAST((MAX(CASE WHEN voiced THEN w END) + 1) * {VAD_WINDOW},
                               MAX(v.n)) END trim_end,
               COALESCE((SELECT MAX(run_len) FROM runs r
                         WHERE r.doc_id = v.doc_id), 0) longest_run
        FROM v GROUP BY v.doc_id
        ORDER BY media_id, n_samples, n_windows, n_voiced,
                 trim_start, trim_end, longest_run"""


PATCH_W, PATCH_H = 4, 4        # ViT-style patch size
PATCH_IMG_W, PATCH_IMG_H = 16, 12  # synthetic gradient image dims


def synthesize_patch_images(docs: DataFrame) -> DataFrame:
    """Real PPM bytes with a CLOSED-FORM gradient (unlike m04's
    constant channels, patch statistics genuinely vary across the
    image): pixel (y, x) of channel c is ((c+1)·(doc_id + 7x + 13y))
    mod 251 on a fixed 16×12 canvas — every byte a pure function of
    (doc_id, x, y, c), so any decoder-side statistic is exactly
    restatable in SQL while the bytes still round-trip a real image
    container."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        ys, xs = np.mgrid[0:PATCH_IMG_H, 0:PATCH_IMG_W]
        base = 7 * xs + 13 * ys
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                arr = np.empty((PATCH_IMG_H, PATCH_IMG_W, 3), dtype=np.uint8)
                for c in range(3):
                    arr[:, :, c] = ((c + 1) * (did + base)) % 251
                out.append(encode_ppm(arr))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": out})

    return docs.select("doc_id").mapInPandas(
        kernel, schema="media_id long, content binary"
    )


def image_patches(media: DataFrame) -> DataFrame:
    """ViT-style patch extraction over a binary image column: REAL
    decode (the PPM parser), then the non-overlapping PATCH_H×PATCH_W
    grid with per-patch per-channel means — the preprocessing every
    vision-transformer training pipeline runs before embedding.
    Patch means divide an exact integer pixel sum by 16 (a power of
    two), so outputs are bit-exact doubles with no rounding
    discipline needed.

    Scale shape: embarrassingly parallel ``mapInPandas`` (state = one
    image), ~W/pw · H/ph output rows per image, no shuffle before the
    output sort."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                h, w = arr.shape[0], arr.shape[1]
                for py in range(h // PATCH_H):
                    for px in range(w // PATCH_W):
                        tile = arr[
                            py * PATCH_H : (py + 1) * PATCH_H,
                            px * PATCH_W : (px + 1) * PATCH_W,
                        ].astype(np.int64)
                        n = PATCH_H * PATCH_W
                        rows.append(
                            {
                                "media_id": mid,
                                "py": py,
                                "px": px,
                                "m_r": float(tile[:, :, 0].sum()) / n,
                                "m_g": float(tile[:, :, 1].sum()) / n,
                                "m_b": float(tile[:, :, 2].sum()) / n,
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "py", "px", "m_r", "m_g", "m_b"],
            )

    return media.mapInPandas(
        kernel,
        schema="media_id long, py int, px int,"
        " m_r double, m_g double, m_b double",
    )


def m10_image_patches(spark, sf_dir):
    """Patch-grid preprocessing over real encoded/decoded PPM bytes —
    per-patch channel means on the closed-form gradient corpus, fully
    DuckDB-oracled (integer pixel sums / 16)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return image_patches(synthesize_patch_images(docs)).orderBy(
        "media_id", "py", "px", "m_r", "m_g", "m_b"
    )


QUERIES["m10_image_patches"] = m10_image_patches

ORACLE_SQL["m10_image_patches"] = f"""
        WITH g AS (SELECT doc_id, py.y py, px.x px, dy.y dy, dx.x dx
                   FROM documents,
                        UNNEST(range({PATCH_IMG_H // PATCH_H})) py(y),
                        UNNEST(range({PATCH_IMG_W // PATCH_W})) px(x),
                        UNNEST(range({PATCH_H})) dy(y),
                        UNNEST(range({PATCH_W})) dx(x)),
        pix AS (SELECT doc_id, py, px,
                       (doc_id + 7 * (px * {PATCH_W} + dx)
                               + 13 * (py * {PATCH_H} + dy)) % 251 r,
                       (2 * (doc_id + 7 * (px * {PATCH_W} + dx)
                               + 13 * (py * {PATCH_H} + dy))) % 251 g2,
                       (3 * (doc_id + 7 * (px * {PATCH_W} + dx)
                               + 13 * (py * {PATCH_H} + dy))) % 251 b
                FROM g)
        SELECT doc_id media_id, CAST(py AS INT) py, CAST(px AS INT) px,
               SUM(r) / {PATCH_H * PATCH_W}.0 m_r,
               SUM(g2) / {PATCH_H * PATCH_W}.0 m_g,
               SUM(b) / {PATCH_H * PATCH_W}.0 m_b
        FROM pix GROUP BY doc_id, py, px
        ORDER BY media_id, py, px, m_r, m_g, m_b"""


# --------------------------------------------- spectral band energy
# m05 reports time-domain stats (RMS/peak/ZC); this is the frequency-
# domain sibling every audio-curation pipeline wants next: per-clip
# energy split across fixed bands. Implemented with the GOERTZEL
# single-bin DFT recurrence (Goertzel 1958; the standard DTMF-decoder
# algorithm) — O(n) per probed frequency, no FFT dependency, and the
# whole kernel is scalar float64 arithmetic so a pure-Python
# recompute pins it bit-for-bit (zlib/t36 discipline: Python-side
# signal -> rows-only driver check + recompute test).
GOERTZEL_FREQS = (250, 500, 1000, 2000)  # Hz at AUDIO_SR=8000


def _goertzel_power(samples, freq: int, sr: int) -> float:
    """Goertzel bin power at ``freq`` over centered 8-bit samples.
    Plain Python floats end to end — the recompute test re-runs this
    exact arithmetic; IEEE doubles make it equal bit-for-bit."""
    import math

    coeff = 2.0 * math.cos(2.0 * math.pi * freq / sr)
    s1 = 0.0
    s2 = 0.0
    for x in samples:
        s0 = float(x) - 128.0 + coeff * s1 - s2
        s2 = s1
        s1 = s0
    return s1 * s1 + s2 * s2 - coeff * s1 * s2


def audio_band_energy(media: DataFrame) -> DataFrame:
    """REAL decode → Goertzel band powers at GOERTZEL_FREQS, plus the
    dominant band index (ties → lowest band). Powers are normalized
    by n^2 (Goertzel magnitude scales with window length) and
    stab-rounded to 6 dp."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, sr = decode_wav(bytes(content))
                n = len(samples)
                xs = [float(v) for v in samples]
                powers = []
                for fq in GOERTZEL_FREQS:
                    p = _goertzel_power(xs, fq, sr) / float(n * n)
                    powers.append(round(round(p, 9) + 1e-12, 6) + 0.0)
                dom = max(
                    range(len(GOERTZEL_FREQS)), key=lambda i: (powers[i], -i)
                )
                rows.append((mid, n, *powers, dom))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples",
                    *[f"e{fq}" for fq in GOERTZEL_FREQS],
                    "dominant",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        kernel,
        schema="media_id long, n_samples long, "
        + ", ".join(f"e{fq} double" for fq in GOERTZEL_FREQS)
        + ", dominant int",
    )


def m11_goertzel_bands(spark, sf_dir):
    """Frequency-domain audio features over real WAV bytes: synthesize
    the m05 clips, decode, and probe four fixed bands with the
    Goertzel recurrence. Python-side DSP -> rows-only driver check;
    pinned by a pure-Python recompute test plus a planted-tone test
    (a synthesized 1 kHz sine must dominate e1000) in
    tests/test_multimodal_bands.py."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return audio_band_energy(synthesize_wav_audio(docs)).orderBy(
        "media_id", "n_samples", *[f"e{fq}" for fq in GOERTZEL_FREQS],
        "dominant",
    )


QUERIES["m11_goertzel_bands"] = m11_goertzel_bands


# ---------------------------------------------------- m12 pHash DCT
# m07's dHash compares adjacent pixels; m12 is the OTHER canonical
# perceptual hash: pHash (Zauner 2010, "Implementation and
# Benchmarking of Perceptual Image Hash Functions"; the pHash.org
# algorithm) — resize to 32x32, 2D DCT-II, keep the low-frequency
# 8x8 block minus the DC term, threshold each coefficient at the
# block median. Brightness-invariant by construction: a uniform
# offset moves ONLY the DC coefficient (the AC basis rows sum to
# zero), and DC is excluded — so brightness-shifted renders of one
# pattern hash identically and the cluster report equals GROUP BY
# ``doc_id % DHASH_PATTERNS``, the same closed-form DuckDB oracle as
# m07 over a genuinely different decode→DCT→threshold pipeline.

PHASH_N = 32   # DCT input grid (pHash.org's 32)
PHASH_LOW = 8  # low-frequency block kept (8x8 - DC = 63 bits)


def phash_images(media: DataFrame) -> DataFrame:
    """(media_id, ph) — DCT perceptual hash over a binary image
    column: REAL decode, nearest resize to 32x32, unnormalized 2D
    DCT-II via two basis matmuls (closed-form cosine basis, no scipy),
    63 low-frequency sign-vs-median bits as a hex string.

    Determinism: coefficients are rounded to 6 dp before the median /
    comparison so the ~1e-13 numerical residue of the (mathematically
    zero) brightness leakage into AC terms can never flip a bit.

    Scale shape: mapInPandas Arrow batches — blobs never shuffle; the
    corpus reduces to (id, 16-hex-char hash) before any exchange,
    identical to m07's discipline."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n = PHASH_N
        x = np.arange(n)
        basis = np.cos(np.pi * (2 * x[None, :] + 1) * x[:, None] / (2 * n))
        for pdf in batches:
            mids, hashes = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                gray = arr.mean(axis=2)
                small = resize_nearest(gray, n, n)
                coef = basis @ small @ basis.T
                low = np.round(
                    coef[:PHASH_LOW, :PHASH_LOW].flatten()[1:], 6
                )
                med = np.median(low)
                val = 0
                for b in low > med:
                    val = (val << 1) | int(b)
                mids.append(mid)
                hashes.append(f"{val:016x}")
            yield pd.DataFrame({"media_id": mids, "ph": hashes})

    return media.select("media_id", "content").mapInPandas(
        kernel, schema="media_id long, ph string"
    )


def m12_phash_dct(spark, sf_dir):
    """Perceptual image dedup via pHash over the m07 synthetic corpus
    (pattern + per-doc brightness): decode → 32x32 → DCT-II → 63
    median-threshold bits → cluster on the hash. Brightness variants
    of one pattern collapse into one cluster (DC excluded), distinct
    patterns hash distinctly (deterministic in the construction,
    pinned by the oracle match at every SF) — so the cluster report
    equals GROUP BY ``doc_id % DHASH_PATTERNS`` exactly as m07's."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hashes = phash_images(synthesize_gradient_images(docs))
    return (
        hashes.groupBy("ph")
        .agg(
            F.min("media_id").alias("cluster_rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cluster_rep", "n_members")
        .orderBy("cluster_rep", "n_members")
    )


QUERIES["m12_phash_dct"] = m12_phash_dct

ORACLE_SQL["m12_phash_dct"] = f"""
        SELECT MIN(doc_id) cluster_rep, COUNT(*) n_members
        FROM documents
        GROUP BY doc_id % {DHASH_PATTERNS}
        ORDER BY cluster_rep, n_members"""


# ------------------------------------------------ image statistics
# m12 clusters on a perceptual hash; the quality-FILTER step that
# precedes it in a multimodal curation pipeline reads per-image
# statistics instead: histogram ENTROPY (flat/blank images score
# near 0 and are dropped), DYNAMIC RANGE and distinct-level count.
# All three are invariant under a uniform brightness offset with no
# clipping (the histogram translates; its shape is unchanged), so on
# the m07 synthetic corpus (pattern + per-doc brightness < 55, bytes
# never clip) images cluster by BASE PATTERN exactly — the same
# closed-form oracle family as m12, with the kernel values pinned by
# a plain-numpy recompute in tests/test_r10_ops.py.


def image_gray_stats(media: DataFrame) -> DataFrame:
    """(media_id, entropy, variance, dyn_range, n_levels) — REAL
    decode, gray histogram, Shannon entropy in bits (6 dp), central
    variance (6 dp — also shift-invariant, and continuous enough to
    break the rare entropy/range/levels triple collision between two
    patterns), max-min gray level and distinct-level count.
    mapInPandas Arrow batches; blobs never shuffle — the corpus
    reduces to (id, 4 numbers) before any exchange (the m07/m12
    discipline)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            mids, ents, vars_, rngs, lvls = [], [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr = decode_image(bytes(content))
                gray = arr.mean(axis=2).astype(np.int64)
                counts = np.bincount(gray.ravel(), minlength=256)
                p = counts[counts > 0] / float(gray.size)
                ents.append(round(float(-(p * np.log2(p)).sum()), 6))
                vars_.append(round(float(gray.var()), 6))
                rngs.append(int(gray.max() - gray.min()))
                lvls.append(int((counts > 0).sum()))
                mids.append(mid)
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "entropy": ents,
                    "variance": vars_,
                    "dyn_range": rngs,
                    "n_levels": lvls,
                }
            )

    return media.select("media_id", "content").mapInPandas(
        kernel,
        schema="media_id long, entropy double, variance double,"
        " dyn_range long, n_levels long",
    )


def m13_image_stats(spark, sf_dir):
    """Image-statistics quality clusters over the m07 synthetic
    corpus: entropy/variance/range/levels are brightness-invariant
    (uniform offset, no clipping), so grouping on the stat TUPLE reproduces
    the base-pattern partition — the cluster report equals GROUP BY
    ``doc_id % DHASH_PATTERNS`` exactly as m07/m12's (distinctness of
    all 50 pattern triples pinned in tests alongside the brightness
    invariance)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    stats = image_gray_stats(synthesize_gradient_images(docs))
    return (
        stats.groupBy("entropy", "variance", "dyn_range", "n_levels")
        .agg(
            F.min("media_id").alias("cluster_rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cluster_rep", "n_members")
        .orderBy("cluster_rep", "n_members")
    )


QUERIES["m13_image_stats"] = m13_image_stats

ORACLE_SQL["m13_image_stats"] = f"""
        SELECT MIN(doc_id) cluster_rep, COUNT(*) n_members
        FROM documents
        GROUP BY doc_id % {DHASH_PATTERNS}
        ORDER BY cluster_rep, n_members"""


# ------------------------------------------- m14 windowed loudness
# m05 reports ONE number per clip; segmentation pipelines need the
# loudness PROFILE — per fixed-size window RMS energy / peak /
# zero-crossings — to cut clips at quiet points and drop silent
# spans (the metric m09's VAD thresholds on, here surfaced per
# window instead of consumed). Closed-form PCM keeps every output
# a function of (doc_id, i) -> full DuckDB oracle.

AUDIO_LOUD_WIN = 100  # samples per loudness window


def audio_loudness_windows(media: DataFrame) -> DataFrame:
    """REAL decode -> per-window waveform energy over a binary audio
    column: stdlib WAV codec, then per AUDIO_LOUD_WIN-sample window
    (last window partial) the sample count, exact integer energy
    sum(c^2) with c centered at the 8-bit midpoint, peak |c|, and
    strict sign-change count BETWEEN CONSECUTIVE SAMPLES OF THE SAME
    WINDOW (cross-boundary pairs belong to no window — declared).

    Scale shape: mapInPandas Arrow batches; blobs never shuffle —
    each clip reduces to ~n/AUDIO_LOUD_WIN rows of 6 integers before
    any exchange (the m05/m11 discipline)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            mids, wins, ns, sqs, pks, zcs = [], [], [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, _sr = decode_wav(bytes(content))
                c = samples.astype(np.int64) - 128
                for w0 in range(0, len(c), AUDIO_LOUD_WIN):
                    wc = c[w0 : w0 + AUDIO_LOUD_WIN]
                    mids.append(mid)
                    wins.append(w0 // AUDIO_LOUD_WIN)
                    ns.append(len(wc))
                    sqs.append(int((wc * wc).sum()))
                    pks.append(int(np.abs(wc).max()))
                    zcs.append(int(((wc[:-1] * wc[1:]) < 0).sum()))
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "win": wins,
                    "n": ns,
                    "sumsq": sqs,
                    "peak": pks,
                    "zc": zcs,
                }
            )

    return media.select("media_id", "content").mapInPandas(
        kernel,
        schema="media_id long, win long, n long, sumsq long,"
        " peak long, zc long",
    )


def m14_audio_loudness(spark, sf_dir):
    """Windowed loudness profile over real RIFF/WAV clips: synthesize
    -> stdlib decode -> per-window integer energy report. The audio
    twin of m10's patch grid."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return audio_loudness_windows(synthesize_wav_audio(docs)).orderBy(
        "media_id", "win", "n", "sumsq", "peak", "zc"
    )


QUERIES["m14_audio_loudness"] = m14_audio_loudness

ORACLE_SQL["m14_audio_loudness"] = f"""
        WITH d AS (SELECT doc_id, LEAST(n_chars, {AUDIO_MAX_SAMPLES}) n
                   FROM documents WHERE doc_id % 3 = 1),
        s AS (SELECT d.doc_id, t.i,
                     (d.doc_id * (t.i + 1)) % 251 - 128 c
              FROM d, unnest(range(0, d.n)) t(i)),
        x AS (SELECT doc_id, i, i // {AUDIO_LOUD_WIN} win, c,
                     lead(c) OVER (PARTITION BY doc_id ORDER BY i) nx
              FROM s)
        SELECT doc_id media_id, win, COUNT(*) n,
               CAST(SUM(c * c) AS BIGINT) sumsq, MAX(ABS(c)) peak,
               CAST(COUNT(*) FILTER (c * nx < 0
                    AND (i + 1) % {AUDIO_LOUD_WIN} != 0) AS BIGINT) zc
        FROM x GROUP BY doc_id, win
        ORDER BY media_id, win, n, sumsq, peak, zc"""
