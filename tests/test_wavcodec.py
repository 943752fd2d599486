"""RIFF/WAVE PCM audio features on the JDK (jvm/Media.java ``AudioFeatures``,
registered as ``h2c_audio_features``) + the audio multimodal plumbing
(operators/multimodal.py extract_audio_features, plans/audio.py).
Engine-exactness of the wav_audio_features oracle row is covered by
test_catalog_oracle.py; these pin the decode itself: bit depths, stereo
interleave, chunk walking, EXTENSIBLE fmt and the failures that name their
cause. Payloads are written from the RIFF spec in imagebytes.py; expected
features are computed from the written samples, never by a decoder.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from imagebytes import WAVE_FORMAT_PCM, audio_features, riff_chunk, wav, wav_fmt

from hdfs2cass_spark.jvm import AUDIO_FEATURES


@pytest.fixture(scope="module")
def features(jvm_call):
    """``features(*payloads)`` -> the h2c_audio_features row of each, as a dict."""
    return lambda *payloads: [r.asDict() for r in jvm_call(AUDIO_FEATURES, list(payloads))]


@pytest.mark.parametrize("bits", [8, 16, 24, 32])
@pytest.mark.parametrize("channels", [1, 2])
def test_pcm_roundtrip_all_depths(features, bits, channels):
    """Every depth and channel count, both extremes included. At 32 bits the
    other samples stay small, so sum_sq lands exactly, just under 2^63."""
    rng = np.random.RandomState(bits * 7 + channels)
    lim = 1 << (bits - 1)
    amp = lim if bits < 32 else 1 << 12
    s = rng.randint(-amp, amp, size=(100, channels)).astype(np.int64)
    s[0, 0], s[1, 0] = -lim, lim - 1
    assert features(wav(s, 8000, bits=bits)) == [audio_features(s, 8000)]


def test_float_roundtrip(features):
    """Integer-exact features are defined for PCM only: float fails by name."""
    f = np.random.RandomState(3).randn(64).astype(np.float32)
    with pytest.raises(Exception, match="unsupported WAV encoding PCM_FLOAT"):
        features(wav(f, 44100, float_fmt=True))


_S = np.array([[1], [-1], [2], [0], [-3]])
_WANT = {
    "n_channels": 1, "sample_rate": 1000, "n_frames": 5, "peak_abs": 3,
    "sum_abs": 7, "sum_sq": 15, "zero_crossings": 2, "duration_ms": 5.0,
}


def test_audio_features_hand_computed(features):
    assert features(wav(_S, 1000, bits=16)) == [_WANT]


def test_full_scale_int32_sums_are_exact(features):
    """Eight full-scale int32 samples square-sum to 2^65: sum_sq is a bigint,
    so the query fails naming the overflow, never wraps. Two of them sum
    exactly to 2^63 - 2^32 + 1, and small 32-bit samples sum exactly."""
    lo, hi = -(1 << 31), (1 << 31) - 1
    with pytest.raises(Exception, match="WAV sample sums overflow a bigint"):
        features(wav(np.array([lo, hi] * 4), 8000, bits=32))
    small = np.array([[-(1 << 20)], [(1 << 20) - 1], [-5], [7]])
    edge = np.array([[lo], [hi]])
    got = features(wav(small, 8000, bits=32), wav(edge, 8000, bits=32))
    assert got == [audio_features(small, 8000), audio_features(edge, 8000)]
    assert got[1]["sum_sq"] == (1 << 63) - (1 << 32) + 1 and got[1]["peak_abs"] == 1 << 31


def test_zero_crossings_per_channel_not_interleave(features):
    """Stereo: crossings are per channel between consecutive FRAMES — the
    interleaved stream (L R L R) must not create cross-channel flips."""
    # L: +1 +1 +1 (0 crossings), R: -1 -1 -1 (0) — interleaved stream
    # alternates sign every sample, which would fake 5 crossings
    (f,) = features(wav(np.array([[1, -1], [1, -1], [1, -1]]), 8000, bits=16))
    assert f["zero_crossings"] == 0 and f["n_frames"] == 3 and f["n_channels"] == 2


def test_chunk_walker_skips_metadata_and_pads_odd_chunks(features):
    """A LIST chunk of odd length (padded) ahead of ``fmt ``."""
    listed = wav(_S, 1000, bits=16, before=riff_chunk(b"LIST", b"INFOx"))
    assert listed[12:16] == b"LIST" and features(listed) == [_WANT]


def test_extensible_fmt_resolves_subformat(features):
    fmt = (
        wav_fmt(0xFFFE, 1, 1000, 16)
        + struct.pack("<HHI", 22, 16, 4)  # cbSize, valid bits, channel mask
        + struct.pack("<H", WAVE_FORMAT_PCM)
        + bytes.fromhex("000000001000800000aa00389b71")  # the KSDATAFORMAT GUID tail
    )
    assert features(wav(_S, 1000, bits=16, fmt=fmt)) == [_WANT]


@pytest.mark.parametrize(
    "bad",
    [b"", b"RIFX1234WAVE", b"RIFF\x04\x00\x00\x00WAVE", b"not audio at all"],
)
def test_parse_rejects_non_wav(features, bad):
    with pytest.raises(Exception, match="not a RIFF/WAVE PCM payload"):
        features(bad)


def test_unsupported_formats_raise_loudly(features):
    """mu-law (tag 7) and 12-bit PCM fail naming the encoding: silent garbage
    would poison a training set."""
    with pytest.raises(Exception, match="unsupported WAV encoding ULAW"):
        features(wav(np.zeros(10), 8000, bits=8, fmt=wav_fmt(0x0007, 1, 8000, 8)))
    with pytest.raises(Exception, match="unsupported WAV encoding PCM_SIGNED 8000.0 Hz, 12 bit"):
        features(wav(np.zeros(5), 8000, bits=16, fmt=wav_fmt(WAVE_FORMAT_PCM, 1, 8000, 12)))


def test_truncated_data_chunk_fails(features):
    """javax.sound reads a short data chunk without complaint; the length
    check fails it."""
    whole = wav(np.arange(5), 8000, bits=16)
    with pytest.raises(Exception, match="truncated WAV data chunk: 6 of 10 bytes"):
        features(whole[:-4])


def test_extract_audio_features_real_branch(spark):
    """The operator end-to-end: two known WAVs attached as media, exact
    features per row."""
    from hdfs2cass_spark.operators.multimodal import attach_media, extract_audio_features

    b1 = wav(_S, 1000, bits=16)
    b2 = wav(np.array([[5, -5]] * 4), 2000, bits=24)
    df = spark.createDataFrame([(1, bytearray(b1)), (2, bytearray(b2))], "id long, payload binary")
    out = extract_audio_features(attach_media(df, "id", "payload", "audio/wav"))
    assert out.columns == ["media_id", "media_type", "byte_len", *_WANT]
    rows = {r.media_id: r.asDict() for r in out.collect()}
    assert rows[1] == {"media_id": 1, "media_type": "audio/wav", "byte_len": len(b1), **_WANT}
    r2 = rows[2]
    assert (r2["n_channels"], r2["sample_rate"], r2["n_frames"]) == (2, 2000, 4)
    assert (r2["peak_abs"], r2["sum_abs"], r2["sum_sq"], r2["zero_crossings"]) == (5, 40, 200, 0)
    assert r2["byte_len"] == len(b2)


def test_synth_media_payloads_are_real_wav(spark):
    """plans/audio.py synth (Catalyst): every payload is byte-for-byte the
    WAV the spec writer makes of the waveform formula."""
    from hdfs2cass_spark.plans.audio import synth_wav_media

    d = spark.createDataFrame([(0,), (1,), (7,), (299,), (1000,)], "doc_id long")
    rows = synth_wav_media(d).collect()
    assert len(rows) == 5
    for r in rows:
        doc = r.media_id
        i = np.arange(200 + doc % 300)[:, None]
        c = np.arange(1 + doc % 2)[None, :]
        s = (doc * 31 + i * 7919 + c * 13) % 65536 - 32768
        assert bytes(r.payload) == wav(s, 8000, bits=16)
        assert (r.media_type, r.byte_len) == ("audio/wav", len(r.payload))
