"""Multimodal-column plumbing: image/audio/video as opaque binary.

The engine treats media as `binary` columns plus typed metadata
structs, processed with Arrow-batched pandas functions via
``mapInPandas`` — the standard shape for decode / feature-extract /
resize / frame-sample stages at corpus scale:

* the binary payload never round-trips through Python row-at-a-time —
  Arrow moves whole column batches;
* decode stages are per-row independent → embarrassingly parallel,
  no shuffle; partition sizing is controlled by the upstream scan;
* metadata (dims, duration, codec) lives in ordinary columns so
  filters on it push down and never touch the payload.

Decode tiers (operators/imagecodec.py): payloads in a REAL image
format get real treatment — header-parsed dimensions for PNG / JPEG
/ GIF / BMP in the metadata stage, and an actual decode → resample →
re-encode in the resize stage (the stdlib zlib PNG codec).
Unrecognized payloads (the synthetic text-bytes fixtures, real-world
corrupt bytes) fall back to the deterministic stubs, so every kernel
stays a total, pure function of its input.
Audio gets the same treatment via operators/audiocodec.py: RIFF/WAVE
payloads yield their true (channels, rate, bits, frames, duration)
from the chunk list. Video's real tier uses animated GIF as the
container (imagecodec.gif_frames): frame-sampling walks the true
frame descriptors + per-frame delays; non-GIF payloads keep the
duration stub.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Metadata schema a real image decoder would produce.
IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
    ]
)


def _fake_decode_image(payload: bytes) -> tuple[int, int, int]:
    """Stub tier of the decode: derives (width, height, channels)
    from the byte length for payloads no real parser recognizes."""
    if payload is None:
        return (None, None, None)
    n = len(payload)
    return (n % 640 + 1, n % 480 + 1, 3)


def _decode_image_dims(payload: bytes) -> tuple[int, int, int]:
    """Real header probe first (PNG/JPEG/GIF/BMP true dimensions),
    stub fallback for unrecognized payloads."""
    if payload is None:
        return (None, None, None)
    from workhop2_etl_spark.operators import imagecodec

    dims = imagecodec.probe_dims(payload)
    return dims if dims is not None else _fake_decode_image(payload)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test harness: materialize an opaque binary column (UTF-8 bytes
    of the text). In production this column comes straight from the
    source (parquet BYTE_ARRAY / webdataset tars)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_image_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode stage: binary payload → typed metadata via mapInPandas.

    One Arrow batch in, one pandas frame out — the decoder touches
    each payload exactly once and emits only small metadata rows, so
    the expensive bytes are dropped before any shuffle.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = {
                "doc_id": pdf[id_col],
                "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else None),
                "sha256": pdf["payload"].map(
                    lambda b: hashlib.sha256(b).hexdigest() if b is not None else None
                ),
            }
            dims = pdf["payload"].map(_decode_image_dims)
            meta["width"] = dims.map(lambda d: d[0])
            meta["height"] = dims.map(lambda d: d[1])
            meta["channels"] = dims.map(lambda d: d[2])
            yield pd.DataFrame(meta)

    return df.select(id_col, "payload").mapInPandas(decode, IMAGE_META_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Stub tier of the resize: emits a payload whose length is the
    target pixel-buffer size, bytes derived from the source digest
    (a pure function of the input, as a real resize is)."""
    if payload is None:
        return None
    seed = hashlib.sha256(payload).digest()
    size = width * height * 3
    return (seed * (size // len(seed) + 1))[:size]


def _resize_payload(payload: bytes, width: int, height: int) -> bytes:
    """Real resample when the payload decodes (the stdlib PNG codec —
    operators/imagecodec.py), stub fallback otherwise."""
    if payload is None:
        return None
    from workhop2_etl_spark.operators import imagecodec

    out = imagecodec.resize_real(payload, width, height)
    return out if out is not None else _fake_resize(payload, width, height)


def resize_images(df: DataFrame, width: int, height: int, id_col: str = "doc_id") -> DataFrame:
    """Resize stage: (id, payload) → (id, resized payload, dims) via
    mapInPandas. Row-local and shuffle-free like the decode stage;
    the output payload column is sized by the TARGET dims, so memory
    per batch is bounded regardless of source image sizes — tune
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` when targets are
    large."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": pdf["payload"].map(lambda b: _resize_payload(b, width, height)),
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, "payload").mapInPandas(kernel, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_seconds", T.DoubleType(), False),
        T.StructField("frame_sha", T.StringType(), True),
    ]
)


def _fake_video_duration(payload: bytes) -> float:
    """Deterministic stand-in for a container probe (ffprobe):
    duration in seconds derived from payload length."""
    return 0.0 if payload is None else float(len(payload) % 30 + 1)


def sample_video_frames(
    df: DataFrame, every_n_seconds: float = 1.0, id_col: str = "doc_id"
) -> DataFrame:
    """Frame-sampling stage: one video row fans out to one row per
    sampled tick (timestamps 0, n, 2n, … < duration) via mapInPandas
    — the iterator contract makes 1→N emission natural. Only frame
    fingerprints travel here; a real decoder would emit the frame
    bytes in the same shape (and the downstream shuffle, if any,
    should happen AFTER per-frame feature extraction shrinks them).

    Real tier: an animated-GIF payload is container-walked
    (imagecodec.gif_frames) — each tick maps to the TRUE frame active
    at that instant per the stream's own delay timeline (delays ≤1 cs
    clamped to the conventional 10 cs), so frame_idx is the genuine
    frame number. Unrecognized payloads keep the duration stub with
    tick-numbered frames."""
    from workhop2_etl_spark.operators.imagecodec import gif_frames

    if not every_n_seconds > 0:  # also rejects NaN
        raise ValueError(
            f"every_n_seconds must be positive, got {every_n_seconds!r}"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "ts_seconds": [], "frame_sha": []}

            def emit(doc_id, payload, idx: int, t: float) -> None:
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["ts_seconds"].append(t)
                out["frame_sha"].append(
                    hashlib.sha256(payload + str(idx).encode()).hexdigest()
                    if payload is not None
                    else None
                )

            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                frames = gif_frames(payload) if payload is not None else None
                if frames is not None:
                    starts = []
                    t0 = 0.0
                    for fr in frames:
                        starts.append(t0)
                        d = fr["delay_cs"]
                        t0 += (d if d > 1 else 10) / 100.0
                    dur = t0
                    k = 0
                    t = 0.0
                    while t < dur:
                        # the frame active at tick t: last start <= t
                        fi = 0
                        for j, s in enumerate(starts):
                            if s <= t:
                                fi = j
                        emit(doc_id, payload, fi, t)
                        k += 1
                        t = k * every_n_seconds
                    continue
                dur = _fake_video_duration(payload)
                idx = 0
                t = 0.0
                while t < dur:
                    emit(doc_id, payload, idx, t)
                    idx += 1
                    t = idx * every_n_seconds
            yield pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(kernel, FRAME_SCHEMA)


def embed_images(df: DataFrame, id_col: str = "doc_id", dim: int = 16) -> DataFrame:
    """Feature-extraction plumbing: binary payload → embedding vector
    via Arrow-batched mapInPandas — the shape a real vision encoder
    plugs into (swap the kernel, keep the plumbing). The stub kernel
    derives a deterministic unit-norm vector from the payload's md5
    (no codecs/models in this container), so downstream similarity
    ops are testable end-to-end.

    At scale this is the GPU-batching stage: one Arrow batch per
    kernel call, no shuffle (narrow transform), partition count =
    inference parallelism.
    """
    import hashlib
    import math

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            vecs = []
            for payload in pdf["payload"]:
                if payload is None:  # same None contract as the other kernels
                    vecs.append(None)
                    continue
                h = hashlib.md5(bytes(payload)).digest()
                raw = [((h[i % 16] * 31 + i * 17) % 255) / 127.5 - 1.0 for i in range(dim)]
                norm = math.sqrt(sum(v * v for v in raw)) or 1.0
                vecs.append([float(v / norm) for v in raw])
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    return df.select(id_col, "payload").mapInPandas(kernel, schema)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
    ]
)


def _fake_audio_meta(payload: bytes) -> tuple[int, int, int, int, float]:
    """Stub tier for non-WAV payloads: deterministic metadata from
    the byte length (mirrors _fake_decode_image's contract)."""
    n = len(payload)
    frames = n * 5
    return (n % 2 + 1, 16000, 16, frames, round(frames / 16000, 6))


def _decode_audio_meta(payload: bytes):
    if payload is None:
        return (None, None, None, None, None)
    from workhop2_etl_spark.operators import audiocodec

    meta = audiocodec.wav_meta(payload)
    return meta if meta is not None else _fake_audio_meta(payload)


def extract_audio_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio decode stage: binary payload → typed metadata via the
    same Arrow mapInPandas shape as extract_image_meta. Real
    RIFF/WAVE payloads get true header metadata
    (operators/audiocodec.py); unrecognized bytes take the stub tier.
    Row-local, shuffle-free; payload bytes are dropped before any
    downstream shuffle."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = pdf["payload"].map(_decode_audio_meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else None
                    ),
                    "channels": metas.map(lambda m: m[0]),
                    "sample_rate": metas.map(lambda m: m[1]),
                    "bits": metas.map(lambda m: m[2]),
                    "n_frames": metas.map(lambda m: m[3]),
                    "duration_s": metas.map(lambda m: m[4]),
                }
            )

    return df.select(id_col, "payload").mapInPandas(decode, AUDIO_META_SCHEMA)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("luma_std", T.DoubleType(), True),
        T.StructField("decode_tier", T.StringType(), True),
    ]
)


def extract_image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL feature extraction over decoded pixels: per-channel means
    and Rec.601 luma standard deviation, via the stdlib decode tiers
    (operators/imagecodec.py), so the statistics are identical on
    every machine. Payloads no tier can decode yield NULL features —
    honest unknowns, not fabricated stats. Grayscale replicates its
    single channel; alpha is ignored.

    ``decode_tier`` names which codec tier produced (or failed to
    produce) the pixels — 'stdlib-png' / 'stdlib-jpeg' / 'none' — so
    a datasheet can COUNT undecodable payloads (e.g. progressive
    JPEG, which otherwise falls silently to NULL features).

    Same scale shape as embed_images (this IS the feature stage a
    vision encoder replaces): Arrow-batched mapInPandas, narrow, no
    shuffle; float64 numpy throughout so values are deterministic.
    """
    import numpy as np

    from workhop2_etl_spark.operators.imagecodec import decode_array_tiered

    def features_of(payload) -> tuple:
        """(width, height, mean_r, mean_g, mean_b, luma_std, tier)."""
        arr, tier = (
            decode_array_tiered(payload)
            if payload is not None
            else (None, "none")
        )
        if arr is None:
            return (None, None, None, None, None, None, tier)
        h, w, ch = arr.shape
        a = arr.astype(np.float64)
        if ch == 1:
            r = g = b = a[:, :, 0]
        else:
            r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        luma = 0.299 * r + 0.587 * g + 0.114 * b
        return (
            w, h,
            float(r.mean()), float(g.mean()), float(b.mean()),
            float(luma.std()), tier,
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "width", "height", "mean_r", "mean_g", "mean_b",
                    "luma_std", "decode_tier")}
            # features are a pure function of the payload bytes, so
            # duplicate payloads within a batch (exact-dup images are
            # common in web corpora; the Python JPEG tier costs ms per
            # decode) hit a batch-bounded memo instead of re-decoding.
            # Keyed on a 16-byte md5 digest: hashlib accepts the
            # bytearray pandas hands us directly, so no per-row
            # bytes() copy of the whole payload.
            memo: dict = {}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                key = (
                    hashlib.md5(payload).digest() if payload is not None else None
                )
                feats = memo.get(key)
                if feats is None:
                    feats = features_of(payload)
                    memo[key] = feats
                w, h, mr, mg, mb, ls, tier = feats
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_r"].append(mr)
                out["mean_g"].append(mg)
                out["mean_b"].append(mb)
                out["luma_std"].append(ls)
                out["decode_tier"].append(tier)
            yield pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)
