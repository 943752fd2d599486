"""Multimodal column operators: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is a `binary` column
(or a pointer into object storage) and metadata travels in typed columns.

Every operator is a Catalyst projection over the JDK media functions of
jvm/Media.java, so a media plan starts no Python worker: ``javax.imageio``
for JPEG, PNG and GIF, plus binary netpbm `P5`/`P6` (the format ffmpeg's
image2pipe emits), told apart by magic bytes; ``javax.sound.sampled`` for
RIFF/WAVE PCM audio. A payload none of them decodes, or a damaged one,
fails the query and names the cause — silent garbage features would poison
a training set. Concatenated-netpbm streams and multi-frame GIFs demux
natively; general video containers are not supported.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..jvm import AUDIO_FEATURES, MEDIA_DECODE, MEDIA_FRAMES, MEDIA_RESIZE, ensure_registered


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


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract: width, height, frame count and the mean
    sample value of the first frame, over every channel."""
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


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize transform: binary in -> binary out, metadata updated.

    The 100 TB shape: payload-to-payload transforms run executor-side (no
    decode on the driver); the output schema carries the new dimensions so
    downstream operators never re-decode to learn them. The resize is
    nearest-neighbour on the first frame, in the payload's own format.
    """
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


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling: ONE video row -> MANY frame rows (every Nth frame).

    The Spark-side shape that matters at 100 TB: the 1->N amplification
    happens executor-side with no driver involvement. A concatenated-netpbm
    stream or a multi-frame GIF (each composited frame re-encoded as PNG)
    demuxes into an array that is posexploded; a still image is its own one
    frame.
    """
    if every_n < 1:
        raise ValueError("every_n must be >= 1")
    ensure_registered(media.sparkSession)
    frames = media.select("media_id", F.posexplode(F.call_function(MEDIA_FRAMES, "payload")))
    return frames.where(F.col("pos") % every_n == 0).select(
        "media_id",
        F.col("pos").cast("int").alias("frame_idx"),
        F.col("col").alias("frame"),
        F.octet_length("col").cast("long").alias("frame_len"),
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio decode + integer-exact features of RIFF/WAVE PCM payloads
    (8/16/24/32-bit, any channel count): peak, sum of absolute values, sum of
    squares and per-channel zero crossings over the decoded samples — every
    field integer-exact, so an analytic oracle can verify the whole encode ->
    container -> decode -> feature loop."""
    ensure_registered(media.sparkSession)
    return media.select(
        "media_id",
        "media_type",
        F.octet_length("payload").cast("long").alias("byte_len"),
        F.call_function(AUDIO_FEATURES, "payload").alias("a"),
    ).select("media_id", "media_type", "byte_len", "a.*")
