"""Multimodal column operators: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is a `binary` column
(or a pointer into object storage) and metadata travels in typed columns.

Decode branches:
  - `decode_stub=True` (default) produces deterministic fake features derived
    from the payload bytes in an Arrow-batched `mapInPandas` — shape-true
    plumbing, testable end-to-end with no codec at all.
  - `decode_stub=False` REALLY decodes, with the JDK image functions of
    jvm/Media.java (``javax.imageio`` for JPEG, PNG and GIF, plus binary
    netpbm `P5`/`P6`, the format ffmpeg's image2pipe emits), so an image
    plan is Catalyst projections with no Python worker. Formats are told
    apart by magic bytes. A payload none of them decodes, or a damaged one,
    fails the query and names the cause — silent garbage features would
    poison a training set. Concatenated-netpbm streams and multi-frame GIFs
    demux natively; general video containers are not supported.

Audio decodes in Python (operators/wavcodec.py) inside `mapInPandas`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..jvm import MEDIA_DECODE, MEDIA_FRAMES, MEDIA_RESIZE, ensure_registered

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("mean_intensity", DoubleType()),
    ]
)


def hex_byte(v: Column) -> Column:
    """An integer 0-255 as two hex digits, for building payloads with ``unhex``."""
    return F.lpad(F.hex(v), 2, "0")


def netpbm_gray(width: Column, height: Column, raster_hex: Column) -> Column:
    """A binary P5 (8-bit gray) image; ``raster_hex`` is its samples in row
    order, two hex digits each."""
    header = F.format_string("P5\n%d %d\n255\n", width, height)
    return F.concat(F.encode(header, "US-ASCII"), F.unhex(raster_hex))


def attach_media(df: DataFrame, id_col: str, payload_col: str, media_type: str) -> DataFrame:
    """Normalize any (id, binary) pair into the media schema."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.octet_length(F.col(payload_col).cast("binary")).cast("long").alias("byte_len"),
    )


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Decode + feature-extract: width, height, frame count and the mean
    sample value of the first frame, over every channel.

    Stub features are pure functions of the payload bytes (deterministic,
    engine-independent), computed via mapInPandas: fake width/height from
    the byte length, fake frame count, mean byte value as "intensity".
    """
    if not decode_stub:
        ensure_registered(media.sparkSession)
        dec = F.col("dec")
        return media.select(
            "media_id",
            "media_type",
            F.octet_length("payload").cast("long").alias("byte_len"),
            F.call_function(MEDIA_DECODE, "payload").alias("dec"),
        ).select(
            "media_id",
            "media_type",
            "byte_len",
            dec.width.alias("width"),
            dec.height.alias("height"),
            dec.n_frames.alias("n_frames"),
            dec.mean.alias("mean_intensity"),
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            byte_len = payloads.map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": byte_len,
                    "width": (byte_len % 640 + 1).astype("int32"),
                    "height": (byte_len % 480 + 1).astype("int32"),
                    "n_frames": (byte_len // 256 + 1).astype("int32"),
                    "mean_intensity": payloads.map(
                        lambda b: float(sum(b)) / len(b) if len(b) else 0.0
                    ),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_media(
    media: DataFrame, width: int, height: int, decode_stub: bool = True
) -> DataFrame:
    """Resize transform: binary in -> binary out, metadata updated.

    The 100 TB shape: payload-to-payload transforms run executor-side (no
    decode on the driver); the output schema carries the new dimensions so
    downstream operators never re-decode to learn them. The real resize is
    nearest-neighbour on the first frame, in the payload's own format. Stub
    "resize" (a mapInPandas) deterministically truncates or tiles the
    payload to width*height bytes where the real decode->resample->encode
    goes.
    """
    if not decode_stub:
        ensure_registered(media.sparkSession)
        return media.select(
            "media_id",
            "media_type",
            F.call_function(MEDIA_RESIZE, "payload", F.lit(width), F.lit(height)).alias("payload"),
        ).select(
            "media_id",
            "media_type",
            "payload",
            F.octet_length("payload").cast("long").alias("byte_len"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in it:

            def stub_resize(b: bytes) -> bytes:
                if not b:
                    return bytes(target)
                reps = -(-target // len(b))  # ceil-tile then cut
                return (bytes(b) * reps)[:target]

            out = pdf["payload"].map(stub_resize)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "payload": out,
                    "byte_len": out.map(len).astype("int64"),
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(batches, RESIZED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
        StructField("frame_len", LongType()),
    ]
)


def sample_frames(
    media: DataFrame,
    every_n: int = 2,
    frame_bytes: int = 256,
    decode_stub: bool = True,
) -> DataFrame:
    """Frame sampling: ONE video row -> MANY frame rows (every Nth frame).

    The Spark-side shape that matters at 100 TB: the 1->N amplification
    happens executor-side with no driver involvement. The real branch
    demuxes a concatenated-netpbm stream or a multi-frame GIF (each
    composited frame re-encoded as PNG) into an array and posexplodes it; a
    still image is its own one frame. Stub "frames" are fixed-size payload
    slices cut inside mapInPandas, where the real container demuxer goes.
    """
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    if not decode_stub:
        ensure_registered(media.sparkSession)
        frames = media.select(
            "media_id", F.posexplode(F.call_function(MEDIA_FRAMES, "payload"))
        )
        return frames.where(F.col("pos") % every_n == 0).select(
            "media_id",
            F.col("pos").cast("int").alias("frame_idx"),
            F.col("col").alias("frame"),
            F.octet_length("col").cast("long").alias("frame_len"),
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                n_frames = -(-len(b) // frame_bytes) if b else 0
                all_frames = [
                    b[i * frame_bytes : (i + 1) * frame_bytes] for i in range(n_frames)
                ]
                for i in range(0, len(all_frames), every_n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(all_frames[i])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": frames,
                    "frame_len": pd.Series([len(f) for f in frames], dtype="int64"),
                }
            )

    return media.mapInPandas(batches, FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("peak_abs", LongType()),
        StructField("sum_abs", LongType()),
        StructField("sum_sq", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("duration_ms", DoubleType()),
    ]
)

_AUDIO_FEATURE_KEYS = [
    "n_channels", "sample_rate", "n_frames", "peak_abs",
    "sum_abs", "sum_sq", "zero_crossings", "duration_ms",
]


def _shippable_wavcodec():
    """wavcodec bound for closure capture, pickle-by-value: executors without
    the package on PYTHONPATH still decode."""
    from ..functions.shippable import pickle_by_value
    from . import wavcodec

    pickle_by_value(wavcodec)
    return wavcodec


def extract_audio_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """Audio decode + integer-exact features via mapInPandas (Arrow batches)
    — the second REAL codec family (operators/wavcodec.py: built-in
    RIFF/WAVE PCM, 8/16/24/32-bit, mono/stereo, chunk-walking).

    Stub features are pure functions of the payload bytes (the image
    extract_features contract); the real branch parses the container and
    computes peak/sum_abs/sum_sq/zero-crossings over the decoded frames —
    every field integer-exact so an analytic oracle can verify the whole
    encode -> container -> decode -> feature loop."""
    features_fn = None if decode_stub else _shippable_wavcodec().audio_features

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            byte_len = payloads.map(len).astype("int64")
            if decode_stub:
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "media_type": pdf["media_type"],
                        "byte_len": byte_len,
                        "n_channels": (byte_len % 2 + 1).astype("int32"),
                        "sample_rate": pd.Series([8000] * len(pdf), dtype="int32"),
                        "n_frames": (byte_len // 2).astype("int64"),
                        "peak_abs": (byte_len % 32768).astype("int64"),
                        "sum_abs": byte_len.astype("int64"),
                        "sum_sq": (byte_len * byte_len).astype("int64"),
                        "zero_crossings": (byte_len % 7).astype("int64"),
                        "duration_ms": (byte_len // 2) * 1000.0 / 8000,
                    }
                )
                continue
            feats = [features_fn(bytes(b)) for b in payloads]
            out = {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "byte_len": byte_len,
            }
            for k in _AUDIO_FEATURE_KEYS:
                dtype = (
                    "float64"
                    if k == "duration_ms"
                    else ("int32" if k in ("n_channels", "sample_rate") else "int64")
                )
                out[k] = pd.Series([f[k] for f in feats], dtype=dtype)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, AUDIO_FEATURE_SCHEMA)
