"""Audio-modality query: WAV/PCM round-trip features, driver-hash-checked.

The avro_roundtrip_customer pattern applied to the audio codec: per
document a REAL RIFF/WAVE 16-bit PCM payload is built by Catalyst from a
closed-form integer waveform, decoded back on the JDK (jvm/Media.java
``AudioFeatures`` on javax.sound.sampled), and reduced to integer-exact
features (operators/multimodal.py extract_audio_features). The encoder
and the decoder share no code, so a byte-order bug on one side cannot be
cancelled by the same bug on the other. The DuckDB oracle recomputes the
same features ANALYTICALLY from the waveform formula (generate_series — it
never sees the bytes), so hash-equality proves the whole encode ->
container -> decode -> feature loop value-exact, including stereo
interleave and 16-bit signed round-trip across the full sample range.

Waveform (all integer arithmetic, full 16-bit range):
    frames(d)    = 200 + d % 300          (bounded payloads at any SF)
    channels(d)  = 1 + d % 2              (mono and stereo both exercised)
    s(d, i, c)   = (d*31 + i*7919 + c*13) % 65536 - 32768

100 TB shape: synth + decode + features are one projection of Catalyst
and Java functions (no driver-side staging — unlike Avro, a WAV payload is
a per-row value); the only shuffle is the presentation sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import attach_media, extract_audio_features
from ..sources.readers import load_table
from .present import present_sorted
from .registry import declare

_RATE = 8000
_FRAMES = "200 + doc_id % 300"
_CH = "1 + doc_id % 2"
# sample c of frame i
_S = "(doc_id*31 + {i}*7919 + {c}*13) % 65536 - 32768"


def _le_hex(v: str, n: int) -> str:
    """SQL: the non-negative integer ``v`` as ``n`` little-endian bytes, two
    hex digits each."""
    return " || ".join(f"lpad(hex(shiftright({v}, {8 * i}) % 256), 2, '0')" for i in range(n))


def synth_wav_media(d: DataFrame) -> DataFrame:
    """(doc_id) -> media frame with a real 16-bit PCM WAV payload per row,
    ``unhex`` of its little-endian header fields and interleaved samples."""
    sample = f"pmod({_S.format(i='(k div ch)', c='(k % ch)')}, 65536)"
    data_len = "frames * ch * 2"
    wav = F.expr(
        "unhex('52494646' || "  # RIFF
        f"{_le_hex(f'36 + {data_len}', 4)} || "  # its size
        "'57415645666d7420' || '10000000' || '0100' || "  # WAVE, fmt chunk of 16 bytes, PCM
        f"{_le_hex('ch', 2)} || {_le_hex(str(_RATE), 4)} || "  # channels, rate
        f"{_le_hex(f'{_RATE} * ch * 2', 4)} || "  # byte rate
        f"{_le_hex('ch * 2', 2)} || '1000' || "  # block align, 16 bits
        f"'64617461' || {_le_hex(data_len, 4)} || "  # data chunk and its size
        f"array_join(transform(sequence(0, frames * ch - 1), k -> {_le_hex(sample, 2)}), ''))"
    )
    synth = d.select(
        "doc_id", F.expr(_FRAMES).alias("frames"), F.expr(_CH).alias("ch")
    ).select("doc_id", wav.alias("payload"))
    return attach_media(synth, "doc_id", "payload", "audio/wav")


@declare(
    "wav_audio_features",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_FRAMES} AS frames, {_CH} AS ch FROM documents),
    s AS (
      -- constant-range series + filter: DuckDB's generate_series rejects
      -- lateral column bounds; frames <= 499 and ch <= 2 by construction
      SELECT b.doc_id, b.frames, b.ch, g.i, gc.c,
             {_S.format(i='i', c='c')} AS s,
             CASE WHEN g.i > 0 THEN {_S.format(i='(i-1)', c='c')} END AS prev
      FROM base b
      JOIN generate_series(0, 498) AS g(i) ON g.i < b.frames
      JOIN generate_series(0, 1) AS gc(c) ON gc.c < b.ch)
    SELECT doc_id,
           CAST(MAX(ch) AS INTEGER) AS n_channels,
           CAST({_RATE} AS INTEGER) AS sample_rate,
           CAST(MAX(frames) AS BIGINT) AS n_frames,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           CAST(SUM(s*s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND
                         ((prev < 0 AND s > 0) OR (prev > 0 AND s < 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           CAST(MAX(frames) AS DOUBLE) * 1000.0 / {_RATE} AS duration_ms
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Multimodal audio: per document a real RIFF/WAVE 16-bit PCM payload "
    "(mono or stereo by doc parity, full sample range) is synthesized "
    "by Catalyst from a closed-form waveform, decoded on the JDK's "
    "javax.sound.sampled, and reduced to integer-exact features "
    "(peak/sum_abs/sum_sq/per-channel zero crossings). The oracle "
    "recomputes the features analytically from the formula, never touching "
    "the bytes — hash-equality proves the codec round-trip exact. "
    "Synth+decode+features is one projection of Catalyst and Java "
    "functions; the only shuffle is the presentation sort.",
)
def wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = synth_wav_media(d)
    feats = extract_audio_features(media)
    out = feats.select(
        F.col("media_id").alias("doc_id"),
        "n_channels",
        "sample_rate",
        F.col("n_frames").cast("bigint").alias("n_frames"),
        "peak_abs",
        "sum_abs",
        "sum_sq",
        "zero_crossings",
        "duration_ms",
    )
    return present_sorted(out, "doc_id")
