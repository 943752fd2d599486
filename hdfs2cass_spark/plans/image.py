"""Image-modality query: baseline-JPEG round-trip features, driver-hash-checked.

The wav_audio_features pattern applied to JPEG: per document a REAL baseline
JPEG of a solid gray level is encoded executor-side by the JDK's codec
(``h2c_jpeg_encode``, jvm/Media.java), decoded back through the full
huffman + dequant + IDCT pipeline (``h2c_media_decode``), and reduced to
exact features. A flat 8x8 block quantizes to a DC-only spectrum, so the
decoded level is exactly predictable by integer math from the spec:

    q00  = scaled Annex-K luminance DC quantizer at quality 85  (= 5)
    qv   = floor(8*(g - 128)/q00 + 0.5)          (encoder quantization)
    g'   = clip(floor(qv*q00/8 + 128.5), 0, 255) (decoder reconstruction)

The DuckDB oracle computes g' from that closed form (it never sees bytes);
the Spark side runs the actual codec. Hash-equality proves the whole
encode -> entropy-code -> decode -> reconstruct loop value-exact, including
header parsing (width/height survive) and edge padding (dims are NOT
block-aligned), for every gray level g = doc_id % 256. No level lands on
the decoder's rounding boundary (5*qv % 8 == 4): 5*qv is within 2 of
8*(g - 128), so 5*qv % 8 is one of 6, 7, 0, 1 and 2.

100 TB shape: the gray image, the encode, the decode and the features are
one projection of Java functions and Catalyst arithmetic; the only shuffle
is the presentation sort.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jvm import JPEG_ENCODE, MEDIA_DECODE, ensure_registered
from ..operators.multimodal import hex_byte, netpbm_gray
from ..sources.readers import load_table
from .present import present_sorted
from .registry import declare

_QUALITY = 85
# the Annex-K luminance DC quantizer 16 at IJG quality 85 (scale 200 - 2*85 = 30%)
_Q00 = 5


def _qv(g: int) -> int:
    return math.floor(8 * (g - 128) / _Q00 + 0.5)


def predicted_gray(g: int) -> int:
    """The closed-form decode prediction (shared by tests; the oracle SQL
    spells out the same arithmetic for DuckDB)."""
    return max(0, min(255, math.floor(_qv(g) * _Q00 / 8 + 128.5)))


def synth_decode_jpeg(d: DataFrame) -> DataFrame:
    """(doc_id) -> one real JPEG encode+decode round trip per row, in one
    projection (payloads never leave the JVM)."""
    ensure_registered(d.sparkSession)
    doc = F.col("doc_id")
    width, height, gray = 5 + doc % 20, 5 + doc % 15, (doc % 256).cast("int")
    image = netpbm_gray(width, height, F.repeat(hex_byte(gray), width * height))
    jpeg = F.call_function(JPEG_ENCODE, image, F.lit(_QUALITY), F.lit(False))
    dec = F.col("dec")
    return d.select(
        doc, gray.alias("gray_in"), F.call_function(MEDIA_DECODE, jpeg).alias("dec")
    ).select(
        "doc_id",
        dec.width.alias("width"),
        dec.height.alias("height"),
        "gray_in",
        F.when(dec["min"] == dec["max"], dec["min"])
        .otherwise(F.raise_error(F.lit("a flat JPEG must decode flat")))
        .alias("gray_decoded"),
    )


@declare(
    "jpeg_image_features",
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             5 + doc_id % 20 AS width,
             5 + doc_id % 15 AS height,
             doc_id % 256 AS g
      FROM documents),
    q AS (
      SELECT doc_id, width, height, g,
             FLOOR(8*(g - 128)/{_Q00}.0 + 0.5) AS qv
      FROM params)
    SELECT doc_id,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(g AS INTEGER) AS gray_in,
           CAST(LEAST(255, GREATEST(0,
                FLOOR(qv*{_Q00}/8.0 + 128.5))) AS INTEGER) AS gray_decoded
    FROM q ORDER BY doc_id
    """,
    doc="Multimodal image: per document a real baseline JPEG of a solid "
    "gray level (dims deliberately not block-aligned — edge padding in "
    "play) is encoded and decoded back through the JDK's huffman + IDCT "
    "codec; the oracle predicts the decoded level by the closed-form DC "
    "quantization arithmetic, never touching bytes — hash-equality proves "
    "the lossy codec loop value-exact where the spec makes it "
    "deterministic. Synth+encode+decode is one projection of Java "
    "functions; the only shuffle is the presentation sort.",
)
def jpeg_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = synth_decode_jpeg(d)
    return present_sorted(out, "doc_id")
