"""GIF-modality query: lossless LZW round-trip features, driver-hash-checked.

The jpeg_image_features pattern applied to GIF, with a stronger contract
because GIF is LOSSLESS: per document a REAL GIF89a payload is synthesized
executor-side by the JDK's codec (``h2c_gif_encode``, jvm/Media.java) — a
row-gradient indexed frame over a non-power-of-two palette (the physical
color table is padded to 2^bits; the logical size is what the index math
uses), interlaced for odd doc_ids, with a declared transparent index over a
background-colored canvas — decoded back through the full LZW +
de-interlace + palette + transparency compositing pipeline
(``h2c_media_decode``), and reduced to an exact integer feature. The row
weighting makes the feature sensitive to WHERE each row lands, so an
interlace-reordering bug cannot cancel out:

    palette[k] = ((5k+11)%256, (7k+3)%256, (11k+29)%256)
    idx(y, x)  = (y + d) % C          (constant per row)
    weighted_rgb_sum = sum_y (y+1) * row_sum(y),  row_sum(y) = W * rgbsum(row y)

where a row whose index equals the transparent index shows the background
color (index (d+1)%C) instead. The DuckDB oracle computes the sum from the
closed form (it never sees bytes); hash-equality proves the whole
encode -> LZW -> decode -> composite loop value-exact — no excluded cases.

100 TB shape: the indices, the palette, the encode, the decode and the
feature are one projection of Java functions and Catalyst arithmetic; the
only shuffle is the presentation sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..jvm import GIF_ENCODE, MEDIA_DECODE, ensure_registered
from ..operators.multimodal import hex_byte, netpbm_gray
from ..sources.readers import load_table
from .present import present_sorted
from .registry import declare


def synth_decode_gif(d: DataFrame) -> DataFrame:
    """(doc_id) -> one real GIF encode+decode round trip per row, in one
    projection (payloads never leave the JVM)."""
    ensure_registered(d.sparkSession)
    doc = F.col("doc_id")
    width, height, colours = 5 + doc % 20, 5 + doc % 15, 4 + doc % 13
    rows = F.transform(
        F.sequence(F.lit(0), height - 1), lambda y: F.repeat(hex_byte((y + doc) % colours), width)
    )
    palette = F.transform(
        F.sequence(F.lit(0), colours - 1),
        lambda k: F.concat(
            hex_byte((5 * k + 11) % 256), hex_byte((7 * k + 3) % 256), hex_byte((11 * k + 29) % 256)
        ),
    )
    gif = F.call_function(
        GIF_ENCODE,
        netpbm_gray(width, height, F.concat_ws("", rows)),
        F.unhex(F.concat_ws("", palette)),
        doc % 2 == 1,
        ((doc + 2) % colours).cast("int"),
        ((doc + 1) % colours).cast("int"),
    )
    dec = F.col("dec")
    weighted = F.transform(dec.row_sums, lambda s, y: s * (y + 1))
    return d.select(
        doc, colours.cast("int").alias("n_colors"), F.call_function(MEDIA_DECODE, gif).alias("dec")
    ).select(
        "doc_id",
        dec.width.alias("width"),
        dec.height.alias("height"),
        "n_colors",
        dec.n_frames.alias("n_frames"),
        F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, v: acc + v).alias(
            "weighted_rgb_sum"
        ),
    )


@declare(
    "gif_image_features",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             5 + doc_id % 20 AS w,
             5 + doc_id % 15 AS h,
             4 + doc_id % 13 AS c
      FROM documents),
    r AS (
      -- constant-range series + filter: DuckDB's generate_series rejects
      -- lateral column bounds; h <= 19 by construction
      SELECT p.doc_id, p.w, p.h, p.c, g.y,
             (g.y + p.doc_id) % p.c AS k,
             (p.doc_id + 1) % p.c AS bg,
             (p.doc_id + 2) % p.c AS t
      FROM p JOIN generate_series(0, 18) AS g(y) ON g.y < p.h),
    v AS (
      SELECT doc_id, w, h, c, y,
             CASE WHEN k = t
                  THEN (5*bg+11)%256 + (7*bg+3)%256 + (11*bg+29)%256
                  ELSE (5*k+11)%256 + (7*k+3)%256 + (11*k+29)%256 END AS s
      FROM r)
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(MAX(c) AS INTEGER) AS n_colors,
           CAST(1 AS INTEGER) AS n_frames,
           CAST(SUM((y + 1) * w * s) AS BIGINT) AS weighted_rgb_sum
    FROM v GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Multimodal image: per document a real GIF89a payload (row-gradient "
    "frame over a non-power-of-two palette, interlaced for odd doc_ids, "
    "with a transparent index over a background canvas) is encoded and "
    "decoded back through the JDK's LZW codec plus compositing; the oracle "
    "predicts the row-weighted RGB sum by closed-form palette arithmetic, "
    "never touching bytes — hash-equality proves the lossless codec loop "
    "value-exact with no excluded cases. Synth+encode+decode is one "
    "projection of Java functions; the only shuffle is the presentation sort.",
)
def gif_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = synth_decode_gif(d)
    return present_sorted(out, "doc_id")
