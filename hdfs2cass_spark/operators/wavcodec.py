"""Built-in RIFF/WAVE PCM codec — spark-free, pickle-by-value shippable.

The audio codec of the multimodal operators (images decode on the JDK,
jvm/Media.java): audio as an opaque ``binary`` column whose decode
runs inside Arrow-batched ``mapInPandas`` on the executors. Written against
the public RIFF/WAVE format (the Microsoft/IBM multimedia file spec, as
also implemented by the stdlib ``wave`` module — which handles only a
subset of what real crawls contain, hence the explicit chunk walker here):

  - container: ``RIFF <size> WAVE`` followed by even-aligned chunks; any
    chunk other than ``fmt `` / ``data`` (LIST, fact, bext, cue, ...) is
    skipped by its declared size (real-world WAVs front-load metadata)
  - ``fmt ``: PCM (tag 0x0001) at 8/16/24/32 bits, IEEE float (0x0003) at
    32 bits, and WAVE_FORMAT_EXTENSIBLE (0xFFFE) resolved through the
    SubFormat GUID to either
  - ``data``: interleaved little-endian frames; 8-bit is UNSIGNED per the
    spec (decoded to signed by centering at 128), wider ints are signed

Anything else (ADPCM, mu-law, ...) raises ``NotImplementedError`` loudly —
silent garbage samples would poison a training set.

The reference (spotify/hdfs2cass) has no media surface at all; this module
belongs to the LLM-training-pipeline extension the project brief demands
(multimodal columns: decode / feature-extract behind real Spark plumbing).
"""

from __future__ import annotations

import struct

WAVE_FORMAT_PCM = 0x0001
WAVE_FORMAT_IEEE_FLOAT = 0x0003
WAVE_FORMAT_EXTENSIBLE = 0xFFFE

# the fixed tail of the EXTENSIBLE SubFormat GUID
# ({xxxxxxxx-0000-0010-8000-00AA00389B71}); the leading 2 bytes carry the
# effective format tag
_KSDATAFORMAT_TAIL = bytes.fromhex("000000001000800000aa00389b71")


def _decode_samples(raw: bytes, fmt_tag: int, bits: int, n_channels: int):
    """Interleaved bytes -> (frames, channels) array. Ints come back as
    int32 (8-bit centered to signed), float as float32."""
    import numpy as np

    if fmt_tag == WAVE_FORMAT_IEEE_FLOAT:
        if bits != 32:
            raise NotImplementedError(f"IEEE float WAV must be 32-bit, got {bits}")
        flat = np.frombuffer(raw, dtype="<f4")
    elif fmt_tag == WAVE_FORMAT_PCM:
        if bits == 8:
            flat = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128
        elif bits == 16:
            flat = np.frombuffer(raw, dtype="<i2").astype(np.int32)
        elif bits == 24:
            b = np.frombuffer(raw, dtype=np.uint8)
            if len(b) % 3:
                raise ValueError("24-bit data chunk length not a multiple of 3")
            u = (
                b[0::3].astype(np.uint32)
                | (b[1::3].astype(np.uint32) << 8)
                | (b[2::3].astype(np.uint32) << 16)
            )
            flat = u.astype(np.int32)
            flat[flat >= 1 << 23] -= 1 << 24
        elif bits == 32:
            flat = np.frombuffer(raw, dtype="<i4").astype(np.int32)
        else:
            raise NotImplementedError(f"PCM bit depth {bits} not supported")
    else:
        raise NotImplementedError(f"WAV format tag 0x{fmt_tag:04x} not supported")
    if n_channels < 1:
        raise ValueError(f"bad channel count {n_channels}")
    frames = len(flat) // n_channels
    return flat[: frames * n_channels].reshape(frames, n_channels)


def parse_wav(b: bytes):
    """-> (n_channels, sample_rate, bits_per_sample, fmt_tag, samples) where
    ``samples`` has shape (frames, channels). Walks chunks by declared size
    (even-aligned), skipping everything but ``fmt `` / ``data``."""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"fmt chunk too short ({size} bytes)")
            tag, ch, rate, _byte_rate, _block, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if tag == WAVE_FORMAT_EXTENSIBLE:
                # cbSize (2) + valid bits (2) + channel mask (4) + GUID (16)
                if size < 40:
                    raise ValueError("EXTENSIBLE fmt chunk too short")
                sub = body[24:40]
                if sub[2:16] != _KSDATAFORMAT_TAIL:
                    raise NotImplementedError("unknown EXTENSIBLE SubFormat GUID")
                tag = struct.unpack_from("<H", sub, 0)[0]
            fmt = (tag, ch, rate, bits)
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("truncated data chunk")
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None:
        raise ValueError("no fmt chunk")
    if data is None:
        raise ValueError("no data chunk")
    tag, ch, rate, bits = fmt
    return ch, rate, bits, tag, _decode_samples(data, tag, bits, ch)


def encode_wav(samples, sample_rate: int, bits: int = 16, float_fmt: bool = False) -> bytes:
    """(frames, channels) or (frames,) array -> canonical RIFF/WAVE bytes.
    Int inputs must already fit the target depth; ``float_fmt`` writes
    IEEE-float-32 (``bits`` ignored)."""
    import numpy as np

    a = np.asarray(samples)
    if a.ndim == 1:
        a = a.reshape(-1, 1)
    if a.ndim != 2:
        raise ValueError("samples must be 1-D or (frames, channels)")
    frames, ch = a.shape
    flat = a.reshape(-1)
    if float_fmt:
        tag, bits = WAVE_FORMAT_IEEE_FLOAT, 32
        raw = flat.astype("<f4").tobytes()
    else:
        tag = WAVE_FORMAT_PCM
        if bits == 8:
            if flat.min(initial=0) < -128 or flat.max(initial=0) > 127:
                raise ValueError("8-bit samples must be in [-128, 127]")
            raw = (flat.astype(np.int32) + 128).astype(np.uint8).tobytes()
        elif bits == 16:
            if flat.min(initial=0) < -(1 << 15) or flat.max(initial=0) >= 1 << 15:
                raise ValueError("16-bit samples out of range")
            raw = flat.astype("<i2").tobytes()
        elif bits == 24:
            v = flat.astype(np.int64)
            if v.min(initial=0) < -(1 << 23) or v.max(initial=0) >= 1 << 23:
                raise ValueError("24-bit samples out of range")
            u = np.where(v < 0, v + (1 << 24), v).astype(np.uint32)
            raw = np.stack(
                [u & 0xFF, (u >> 8) & 0xFF, (u >> 16) & 0xFF], axis=1
            ).astype(np.uint8).tobytes()
        elif bits == 32:
            raw = flat.astype("<i4").tobytes()
        else:
            raise NotImplementedError(f"PCM bit depth {bits} not supported")
    block = ch * bits // 8
    fmt_body = struct.pack("<HHIIHH", tag, ch, sample_rate, sample_rate * block, block, bits)
    chunks = b"".join(
        [
            b"fmt ",
            struct.pack("<I", len(fmt_body)),
            fmt_body,
            b"data",
            struct.pack("<I", len(raw)),
            raw,
            b"\x00" if len(raw) & 1 else b"",
        ]
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _exact_sum(a) -> int:
    """Exact arbitrary-precision sum of a non-negative uint64 array.

    int64/uint64 accumulation silently wraps for 32-bit PCM squares (eight
    full-scale int32 samples already exceed int64), so split each element
    into 32-bit words and sum the words in chunks small enough that the
    per-word accumulator cannot wrap (word < 2^32, chunk <= 2^31 terms ->
    partial sum < 2^63 < uint64 max), then recombine as Python ints.
    """
    import numpy as np

    lo = a & np.uint64(0xFFFFFFFF)
    hi = a >> np.uint64(32)
    total = 0
    step = 1 << 31
    for i in range(0, len(a), step):
        total += (int(hi[i : i + step].sum(dtype=np.uint64)) << 32) + int(
            lo[i : i + step].sum(dtype=np.uint64)
        )
    return total


def audio_features(b: bytes) -> dict:
    """Deterministic integer-exact features of one WAV payload — the values
    an analytic oracle can recompute without the codec (every field is an
    integer except duration_ms, one correctly-rounded double division):
    peak_abs / sum_abs / sum_sq over all channels, zero_crossings = strict
    sign flips between consecutive frames summed over channels."""
    import numpy as np

    ch, rate, _bits, tag, s = parse_wav(b)
    if tag == WAVE_FORMAT_IEEE_FLOAT:
        raise NotImplementedError(
            "integer-exact features are defined for PCM payloads; "
            "float WAVs need a float feature contract"
        )
    v = s.astype(np.int64)
    frames = int(v.shape[0])
    prev, cur = v[:-1], v[1:]
    zc = int(np.count_nonzero(((prev < 0) & (cur > 0)) | ((prev > 0) & (cur < 0))))
    # |sample| <= 2^31 so abs fits uint64 and each square <= 2^62 fits a
    # uint64 element; the SUMS need arbitrary precision (ADVICE r12: eight
    # full-scale int32 squares wrap int64) -> _exact_sum
    a = np.abs(v).astype(np.uint64).reshape(-1)
    return {
        "n_channels": int(ch),
        "sample_rate": int(rate),
        "n_frames": frames,
        "peak_abs": int(a.max()) if frames else 0,
        "sum_abs": _exact_sum(a),
        "sum_sq": _exact_sum(a * a),
        "zero_crossings": zc,
        "duration_ms": frames * 1000.0 / rate if rate else 0.0,
    }
