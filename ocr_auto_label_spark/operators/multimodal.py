"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference's media handling is filesystem-level (sharp resize at
gemini.ts:21-42, `.MP.JPG` first-frame extraction at upload.ts:350-365,
HEIC conversion in copy_folder.ipynb).  At 100TB those become columnar
ops over a table

    media(media_id long, media_type string, payload binary,
          meta struct<width:int, height:int, duration_ms:int, codec:string>)

All Spark-side plumbing here is real — schema, partition-preserving
``mapInPandas`` with Arrow batches, UDF signatures, batch shapes, tests.
The codec step itself is STUBBED: this container has no image/audio
libraries, so ``decode_media_batch`` raises ``NotImplementedError`` unless
``deterministic_fake=True``, which derives pixel/sample features from the
payload bytes reproducibly (same contract shape a real Pillow/ffmpeg
implementation would fill in).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_auto_label_spark.operators.util import local_frame

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),  # image | audio | video
    StructField("payload", BinaryType()),
    StructField("meta", StructType([
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("codec", StringType()),
    ])),
])

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),
    StructField("feature", ArrayType(FloatType())),
    StructField("payload_bytes", IntegerType()),
])

FRAMES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_payload", BinaryType()),
])


def _synth_wav_bytes(rng: np.random.Generator, n_samples: int) -> bytes:
    """A VALID mono 16-bit PCM WAV payload (stdlib wave writer): a sum of
    two deterministic sine tones + noise — real bytes a real audio codec
    decodes, not an opaque blob."""
    import io
    import wave

    sr = 8000
    t = np.arange(n_samples) / sr
    f1, f2 = float(rng.integers(100, 800)), float(rng.integers(800, 3000))
    sig = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    sig = sig + 0.05 * rng.standard_normal(n_samples)
    pcm = np.clip(sig * 32767, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def synth_media_rows(n: int = 64, seed: int = 13) -> list[tuple]:
    """The deterministic synthetic media rows as plain Python — shared by
    the Spark table builder below AND the driver-oracle generator, which
    replays the expected profile from the same rows outside Spark."""
    rng = np.random.default_rng(seed)
    rows = []
    types = ("image", "audio", "video")
    codecs = {"image": "jpeg", "audio": "pcm16", "video": "h264"}
    for i in range(n):
        mt = types[i % 3]
        if mt == "audio":
            payload = _synth_wav_bytes(rng, int(rng.integers(800, 4000)))
        else:
            payload = rng.integers(0, 256, size=int(rng.integers(256, 2048)), dtype=np.uint8).tobytes()
        rows.append((
            i, mt, bytearray(payload),
            (int(rng.integers(64, 1920)), int(rng.integers(64, 1080)),
             int(rng.integers(1000, 60000)) if mt != "image" else 0,
             codecs[mt]),
        ))
    return rows


def synth_media(spark: SparkSession, n: int = 64, seed: int = 13) -> DataFrame:
    """Deterministic synthetic media table (no external data).

    Audio rows carry REAL WAV/PCM16 payloads (decodable by
    ``WavAudioCodec``); image/video payloads are opaque bytes (their
    decoders are environment-blocked, see ``PillowImageCodec``)."""
    return local_frame(spark, synth_media_rows(n, seed), MEDIA_SCHEMA)


class MediaCodec:
    """Pluggable codec boundary: batch of payloads → (n, FEATURE_DIM)
    float32 features.  Implementations must be picklable (they ship to
    executors inside the mapInPandas closure) and pure (same bytes →
    same features on every run/worker)."""

    def decode_batch(self, payloads: pd.Series, media_types: pd.Series) -> np.ndarray:
        raise NotImplementedError


class DeterministicFakeCodec(MediaCodec):
    """Environment-blocked stand-in: byte-derived reproducible features
    with the exact contract shape a real decoder fills in."""

    def decode_batch(self, payloads: pd.Series, media_types: pd.Series) -> np.ndarray:
        out = np.zeros((len(payloads), FEATURE_DIM), dtype=np.float32)
        for i, payload in enumerate(payloads):
            digest = hashlib.sha256(bytes(payload)).digest()
            out[i] = np.frombuffer(
                digest[:FEATURE_DIM * 2], dtype=np.uint16
            ).astype(np.float32) / 65535.0
        return out


class PillowImageCodec(MediaCodec):
    """Real-image implementation slot: decodes with Pillow when available.
    This container has no image libraries, so constructing it raises —
    a Pillow-equipped build drops in without touching the Spark plumbing."""

    def __init__(self) -> None:
        try:
            import PIL.Image  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "PillowImageCodec requires Pillow, which is not present in "
                "this environment; use DeterministicFakeCodec"
            ) from e

    def decode_batch(self, payloads: pd.Series, media_types: pd.Series) -> np.ndarray:
        import io

        import PIL.Image

        out = np.zeros((len(payloads), FEATURE_DIM), dtype=np.float32)
        for i, payload in enumerate(payloads):
            img = PIL.Image.open(io.BytesIO(bytes(payload))).convert("L")
            thumb = np.asarray(img.resize((4, 4)), dtype=np.float32) / 255.0
            out[i] = thumb.reshape(-1)[:FEATURE_DIM]
        return out


class WavAudioCodec(MediaCodec):
    """REAL audio decoding with only the stdlib ``wave`` module + numpy —
    no external libraries, so this codec runs in this container.  Audio
    rows are decoded to a FEATURE_DIM-segment RMS envelope (a standard
    cheap audio fingerprint); non-audio rows fall back to the
    deterministic byte-derived features (their decoders need Pillow/
    ffmpeg, which the environment lacks)."""

    def __init__(self) -> None:
        self._fallback = DeterministicFakeCodec()

    @staticmethod
    def decode_wav(payload: bytes) -> np.ndarray:
        import io
        import wave

        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            n = w.getnframes()
            width = w.getsampwidth()
            raw = w.readframes(n)
        if width != 2:
            raise NotImplementedError(f"only PCM16 supported, got width={width}")
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
        # FEATURE_DIM-segment RMS envelope (pad the tail segment)
        seg = max(1, len(samples) // FEATURE_DIM)
        out = np.zeros(FEATURE_DIM, dtype=np.float32)
        for k in range(FEATURE_DIM):
            chunk = samples[k * seg:(k + 1) * seg]
            if len(chunk):
                out[k] = np.sqrt(np.mean(chunk * chunk))
        return out

    def decode_batch(self, payloads: pd.Series, media_types: pd.Series) -> np.ndarray:
        out = np.zeros((len(payloads), FEATURE_DIM), dtype=np.float32)
        fallback_idx = []
        for i, (payload, mt) in enumerate(zip(payloads, media_types)):
            if mt == "audio":
                out[i] = self.decode_wav(payload)
            else:
                fallback_idx.append(i)
        if fallback_idx:
            sub = self._fallback.decode_batch(
                payloads.iloc[fallback_idx], media_types.iloc[fallback_idx]
            )
            for j, i in enumerate(fallback_idx):
                out[i] = sub[j]
        return out


def decode_media_batch(payloads: pd.Series, media_types: pd.Series,
                       deterministic_fake: bool = False) -> np.ndarray:
    """Back-compat shim over the codec protocol."""
    if not deterministic_fake:
        raise NotImplementedError(
            "media decoding requires image/audio libraries not present in "
            "this environment; pass deterministic_fake=True for the "
            "reproducible byte-derived feature stub"
        )
    return DeterministicFakeCodec().decode_batch(payloads, media_types)


def extract_features(
    df: DataFrame,
    deterministic_fake: bool = True,
    codec: MediaCodec | None = None,
) -> DataFrame:
    """media table → per-item feature vectors via mapInPandas.

    Narrow (partition-preserving, no shuffle); Arrow batches keep payload
    bytes off the Python heap until the batch is processed.  ``codec``
    selects the decoder implementation (default: the deterministic fake —
    this environment ships no image/audio libraries)."""
    if codec is None:
        if not deterministic_fake:
            raise NotImplementedError(
                "no real codec available in this environment; pass "
                "deterministic_fake=True or an explicit MediaCodec"
            )
        codec = DeterministicFakeCodec()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = codec.decode_batch(pdf["payload"], pdf["media_type"])
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "feature": [row.tolist() for row in feats],
                "payload_bytes": pdf["payload"].map(len).astype("int32"),
            })

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)


def media_profile(df: DataFrame, codec: MediaCodec | None = None) -> DataFrame:
    """One row per media item combining the three pipelines — features
    (decode via codec), resize planning, and video frame-sampling counts —
    so the whole multimodal surface is exercised by one plan: two narrow
    mapInPandas passes + one broadcast-friendly aggregation join.

    Default codec: ``WavAudioCodec`` — REAL stdlib WAV/PCM decoding for
    audio rows, byte-derived fallback for the environment-blocked
    image/video decoders."""
    if codec is None:
        codec = WavAudioCodec()
    feats = extract_features(df, codec=codec).select(
        "media_id", "media_type", "payload_bytes",
        # RAW ordered fold (float32 elements widened to double per add):
        # bit-reproducible at any parallelism, and the oracle generator
        # computes the identical double — a round(…, 4) here would
        # reintroduce the cross-engine HALF_UP ambiguity for nothing
        F.expr("aggregate(feature, 0D, (s, v) -> s + v)").alias("feature_sum"),
    )
    resize = resize_metadata(df)
    frames = sample_frames(df).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    return (
        feats.join(resize, "media_id")
        .join(frames, "media_id", "left")
        .na.fill({"n_frames": 0})
    )


def sample_frames(df: DataFrame, every_ms: int = 5000) -> DataFrame:
    """video rows → one row per sampled frame timestamp (UDTF shape).

    Real implementation would seek/decode; the stub slices the payload
    deterministically per frame index so batch shape, explode fan-out and
    schema are all exercised for real."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for r in pdf.itertuples(index=False):
                if r.media_type != "video" or r.meta is None:
                    continue
                duration = r.meta["duration_ms"] or 0
                n_frames = max(1, duration // every_ms)
                raw = bytes(r.payload)
                for k in range(int(n_frames)):
                    ids.append(r.media_id)
                    idxs.append(k)
                    lo = (k * 64) % max(len(raw) - 64, 1)
                    payloads.append(bytearray(raw[lo:lo + 64]))
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_payload": pd.Series(payloads, dtype=object),
            })

    return df.mapInPandas(run, schema=FRAMES_SCHEMA)


def resize_metadata(df: DataFrame, max_side: int = 1024) -> DataFrame:
    """The reference's resize-if-large rule (gemini.ts:26-31: >4MB →
    ≤1024², else passthrough) as pure column math over the typed metadata —
    the planning half of a resize, no decode needed."""
    needs = (F.length("payload") > 4 * 1024 * 1024) | (
        F.greatest(F.col("meta.width"), F.col("meta.height")) > max_side
    )
    scale = F.least(
        F.lit(1.0),
        max_side / F.greatest(F.col("meta.width"), F.col("meta.height")).cast("double"),
    )
    return df.select(
        "media_id",
        needs.cast("int").alias("needs_resize"),
        F.round(F.col("meta.width") * scale).cast("int").alias("target_width"),
        F.round(F.col("meta.height") * scale).cast("int").alias("target_height"),
    )


def layout_reading_order(
    df: DataFrame,
    col_width: int = 500,
    band_px: int = 50,
    min_pages: int = 2,
) -> DataFrame:
    """Document layout analysis over typed block geometry — the
    "PDF/layout parse" leg of main-content extraction, no decoder needed
    (layout-parsed documents arrive as block tables: the parse itself is
    environment-blocked like the image codecs, but everything downstream
    of it — the part that runs at corpus scale — is real and tested).

    Input: one row per block with ``doc_id, page, block_id, x, y, w, h,
    text``.  Two classic steps, all integer arithmetic:

    1. **Running header/footer removal**: a block whose exact text
       recurs in the same vertical band (``y div band_px``) on
       ``min_pages``+ distinct pages of a document is chrome (the
       repeated-element rule used by PDF text extractors).
    2. **Reading order (XY-cut-lite)**: content blocks are ordered by
       ``(page, x div col_width, y, x, block_id)`` — page, then column,
       then top-to-bottom — the multi-column reading sequence.

    Output: every input block with ``is_chrome`` (0/1) and ``ord``
    (1-based reading position among content blocks per doc; NULL for
    chrome).  Scale shape: one partial-aggregated groupBy over
    (doc, text, band), one equi-join back, one per-doc window — block
    counts are bounded per document, so no skew leg is needed.
    """
    yband = (F.col("y") / band_px).cast("int")
    chrome = (
        df.groupBy("doc_id", "text", yband.alias("yband"))
        .agg(F.countDistinct("page").alias("n_pages"))
        .filter(F.col("n_pages") >= min_pages)
        .select("doc_id", "text", "yband", F.lit(1).alias("is_chrome"))
    )
    marked = (
        df.withColumn("yband", yband)
        .join(chrome, ["doc_id", "text", "yband"], "left")
        .withColumn("is_chrome", F.coalesce(F.col("is_chrome"), F.lit(0)))
    )
    from pyspark.sql import Window

    return marked.select(
        "doc_id", "page", "block_id", "is_chrome",
        F.when(
            F.col("is_chrome") == 0,
            F.row_number().over(
                Window.partitionBy("doc_id", "is_chrome").orderBy(
                    "page", (F.col("x") / col_width).cast("int"), "y", "x", "block_id"
                )
            ),
        ).alias("ord"),
    )
