"""Media payloads written from the format specs for the media tests.

netpbm (P5/P6), PNG (every colour type, 8- or 16-bit, plain or Adam7, raw
filtered scanlines on request), GIF (LZW, interlace, global and local
palettes, transparency, disposal, frame offsets) and RIFF/WAVE (integer PCM
at 8, 16, 24 or 32 bits, IEEE float32, extra chunks, any fmt body). The JDK
functions under test decode them; expected values come from the arrays
written here, never from a decoder.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# netpbm
# ---------------------------------------------------------------------------


def netpbm(px) -> bytes:
    """uint8 (h, w) or (h, w, 1) -> P5, (h, w, 3) -> P6."""
    px = np.asarray(px, np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    return (b"P5" if ch == 1 else b"P6") + f"\n{w} {h}\n255\n".encode() + px.tobytes()


def parse_netpbm(b: bytes):
    """(width, height, channels, pixels uint8[h, w, ch]) of one P5/P6 image
    with maxval 255 that fills ``b``."""
    gap = rb"(?:\s|#[^\n]*\n)+"
    m = re.match(rb"P([56])" + gap + rb"(\d+)" + gap + rb"(\d+)" + gap + rb"255\s", b)
    ch = 1 if m.group(1) == b"5" else 3
    w, h = int(m.group(2)), int(m.group(3))
    raster = b[m.end() :]
    assert len(raster) == w * h * ch
    return w, h, ch, np.frombuffer(raster, np.uint8).reshape(h, w, ch)


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Adam7 interlace pass grid: (x0, y0, dx, dy) per the PNG spec
ADAM7_PASSES = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def png_chunk(kind: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(kind + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + kind + data + struct.pack(">I", crc)


def png_from_raw(w, h, ctype, raw, plte=None, depth=8, interlace=0) -> bytes:
    """A PNG around already-filtered scanline bytes ``raw``."""
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = PNG_SIG + png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += png_chunk(b"PLTE", plte)
    return out + png_chunk(b"IDAT", zlib.compress(raw)) + png_chunk(b"IEND", b"")


def png(px, interlace: bool = False) -> bytes:
    """[h, w, ch] uint8 (depth 8) or uint16 (depth 16) -> PNG with filter-0
    scanlines, Adam7-interlaced on request."""
    h, w, ch = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    depth = 16 if px.dtype == np.uint16 else 8

    def rows(sub):
        data = sub.astype(">u2") if depth == 16 else sub
        return b"".join(b"\x00" + data[y].tobytes() for y in range(sub.shape[0]))

    if interlace:
        subs = [px[y0::dy, x0::dx] for x0, y0, dx, dy in ADAM7_PASSES]
        raw = b"".join(rows(s) for s in subs if s.shape[0] and s.shape[1])
    else:
        raw = rows(px)
    return png_from_raw(w, h, ctype, raw, depth=depth, interlace=int(interlace))


# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------

# row order of the GIF 4-pass interlace: (first row, step)
INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def interlace_order(height: int) -> list[int]:
    """The image row carried by each successive raster row of an interlaced frame."""
    return [y for first, step in INTERLACE_PASSES for y in range(first, height, step)]


def palette(n: int):
    """The (n, 3) palette of gif_image_features: distinct, odd-looking colours."""
    k = np.arange(n, dtype=np.int64)
    return np.stack(
        [(5 * k + 11) % 256, (7 * k + 3) % 256, (11 * k + 29) % 256], axis=1
    ).astype(np.uint8)


def lzw(indices: bytes, min_code_size: int) -> bytes:
    """GIF LZW data that only ever sends literal codes: a clear code every
    clear-2 literals keeps the dictionary, and so the code width, from
    growing, which makes the encoding trivially correct."""
    clear = 1 << min_code_size
    codes = []
    for i, v in enumerate(indices):
        if i % (clear - 2) == 0:
            codes.append(clear)
        codes.append(v)
    codes.append(clear + 1)
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += min_code_size + 1
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc)
    return bytes(out)


def _table(pal) -> tuple[bytes, int]:
    """A colour table padded to 2^bits entries, and bits."""
    pal = np.asarray(pal, np.uint8)
    bits = max(1, int(len(pal) - 1).bit_length())
    padded = np.zeros((1 << bits, 3), np.uint8)
    padded[: len(pal)] = pal
    return padded.tobytes(), bits


def gif(frames, pal, screen=None, background=0, interlace=False) -> bytes:
    """GIF89a bytes. ``frames``: dicts with ``idx`` (uint8 (h, w) indices) and
    optional ``left``, ``top``, ``transparent``, ``disposal`` (0-3),
    ``palette`` (a local colour table) and ``lzw`` (raw image data that
    replaces the encoding of ``idx``)."""
    gct, bits = _table(pal)
    if screen is None:
        screen = (
            max(f["idx"].shape[1] + f.get("left", 0) for f in frames),
            max(f["idx"].shape[0] + f.get("top", 0) for f in frames),
        )
    flags = 0x80 | (bits - 1) << 4 | (bits - 1)
    out = bytearray(b"GIF89a" + struct.pack("<HHBBB", *screen, flags, background, 0) + gct)
    for f in frames:
        idx = np.asarray(f["idx"], np.uint8)
        h, w = idx.shape
        transparent, disposal = f.get("transparent"), f.get("disposal", 0)
        if transparent is not None or disposal:
            packed = disposal << 2 | (transparent is not None)
            out += b"\x21\xf9\x04" + bytes([packed, 0, 0, transparent or 0, 0])
        table_bits = bits
        flags = 0x40 if interlace else 0
        lct = b""
        if f.get("palette") is not None:
            lct, table_bits = _table(f["palette"])
            flags |= 0x80 | (table_bits - 1)
        out += b"\x2c" + struct.pack("<HHHHB", f.get("left", 0), f.get("top", 0), w, h, flags)
        out += lct
        rows = idx[interlace_order(h)] if interlace else idx
        mcs = max(2, table_bits)
        data = f.get("lzw", lzw(rows.tobytes(), mcs))
        out += bytes([mcs])
        for i in range(0, len(data), 255):
            out += bytes([len(data[i : i + 255])]) + data[i : i + 255]
        out += b"\x00"
    return bytes(out + b"\x3b")


# ---------------------------------------------------------------------------
# RIFF/WAVE
# ---------------------------------------------------------------------------

WAVE_FORMAT_PCM = 0x0001
WAVE_FORMAT_IEEE_FLOAT = 0x0003


def riff_chunk(kind: bytes, body: bytes) -> bytes:
    """One RIFF chunk: id, little-endian size, body, a pad byte if odd."""
    return kind + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


def wav_fmt(tag: int, channels: int, rate: int, bits: int) -> bytes:
    """The 16-byte ``fmt `` body: tag, channels, rate, byte rate, block align, bits."""
    block = channels * ((bits + 7) // 8)
    return struct.pack("<HHIIHH", tag, channels, rate, rate * block, block, bits)


def wav(samples, rate: int, bits: int = 16, float_fmt: bool = False, before: bytes = b"",
        fmt: bytes | None = None) -> bytes:
    """(frames, channels) or (frames,) samples -> RIFF/WAVE bytes: integer
    PCM at ``bits`` (8-bit stored unsigned, offset by 128; wider signed), or
    IEEE float32 when ``float_fmt``. ``before`` is chunks placed ahead of
    ``fmt ``; ``fmt`` replaces the ``fmt `` body."""
    a = np.asarray(samples)
    a = a.reshape(len(a), -1)
    if float_fmt:
        tag, bits, raw = WAVE_FORMAT_IEEE_FLOAT, 32, a.astype("<f4").tobytes()
    else:
        v = a.astype(np.int64).reshape(-1)
        lim = 1 << (bits - 1)
        assert v.min(initial=0) >= -lim and v.max(initial=0) < lim, "sample out of range"
        u = (v + lim if bits == 8 else v) & ((1 << bits) - 1)
        # each sample is the low bits/8 bytes of its little-endian 64-bit word
        raw = u.astype("<u8").view(np.uint8).reshape(-1, 8)[:, : bits // 8].tobytes()
        tag = WAVE_FORMAT_PCM
    fmt_body = wav_fmt(tag, a.shape[1], rate, bits) if fmt is None else fmt
    chunks = before + riff_chunk(b"fmt ", fmt_body) + riff_chunk(b"data", raw)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def audio_features(samples, rate: int) -> dict:
    """What h2c_audio_features reports for integer samples (frames,
    channels): exact sums over every sample, strict sign flips between
    consecutive frames of each channel."""
    v = np.asarray(samples, np.int64)
    v = v.reshape(len(v), -1)
    a = [abs(int(x)) for x in v.reshape(-1)]
    return {
        "n_channels": v.shape[1],
        "sample_rate": rate,
        "n_frames": len(v),
        "peak_abs": max(a, default=0),
        "sum_abs": sum(a),
        "sum_sq": sum(x * x for x in a),
        "zero_crossings": int(np.count_nonzero(np.sign(v[:-1]) * np.sign(v[1:]) < 0)),
        "duration_ms": len(v) * 1000.0 / rate,
    }


# ---------------------------------------------------------------------------
# what h2c_media_decode reports
# ---------------------------------------------------------------------------


def stats(px) -> dict:
    """The decode statistics of a [h, w(, ch)] sample array: width, height,
    mean, min, max and per-row sums over every channel."""
    px = np.asarray(px, np.int64)
    if px.ndim == 2:
        px = px[:, :, None]
    return {
        "width": px.shape[1],
        "height": px.shape[0],
        "mean": float(px.mean()),
        "min": int(px.min()),
        "max": int(px.max()),
        "row_sums": px.sum(axis=(1, 2)).tolist(),
    }


def decoded(row) -> dict:
    """The fields of an h2c_media_decode result that stats() predicts."""
    return {k: row[k] for k in ("width", "height", "mean", "min", "max", "row_sums")}
