"""GIF on the JDK (hdfs2cass_spark/jvm/Media.java): round trips through
h2c_gif_encode and h2c_media_decode, GIFs written by the spec-level writer in
imagebytes.py, demux and resize, and the damaged payloads that must fail the
query by name. Expected values come from the written samples. Engine
exactness of the gif_image_features row is covered by test_catalog_oracle.py.

The LZW tests drive ImageIO's own LZW coder at every code size, through the
KwKwK case and past the 4096-entry dictionary reset.
"""

from __future__ import annotations

import numpy as np
import pytest
from imagebytes import decoded, gif, interlace_order, lzw, netpbm, palette, stats

from hdfs2cass_spark.jvm import GIF_ENCODE, MEDIA_DECODE, MEDIA_FRAMES, MEDIA_RESIZE


@pytest.fixture
def encode(jvm_call):
    """Indexed frame(s) + palette -> GIFs written by h2c_gif_encode."""

    def run(frames, pal, interlace=False, transparent=None, background=0):
        pal_bytes = np.asarray(pal, np.uint8).tobytes()
        return jvm_call(
            GIF_ENCODE,
            [netpbm(f) for f in frames],
            [pal_bytes] * len(frames),
            interlace,
            transparent,
            background,
        )

    return run


@pytest.fixture
def decode(jvm_call):
    return lambda payloads: jvm_call(MEDIA_DECODE, list(payloads))


def _roundtrip(encode, decode, idx, pal, **kw):
    (row,) = decode(encode([idx], pal, **kw))
    return row


# ---------------------------------------------------------------------------
# LZW, through whole-image round trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("mcs", [2, 3, 4, 5, 8])
def test_lzw_roundtrip_random_and_runs(encode, decode, mcs):
    rng = np.random.RandomState(mcs)
    n = 1 << mcs
    data = np.concatenate(
        [rng.randint(0, n, size=5000), np.full(3000, n - 1), rng.randint(0, n, size=500)]
    ).astype(np.uint8)
    idx = data.reshape(85, 100)
    pal = palette(n)
    row = _roundtrip(encode, decode, idx, pal)
    assert decoded(row) == stats(pal[idx]) and row["n_frames"] == 1


def test_lzw_kwkwk_case(encode, decode):
    """'abab...' makes the decoder use the code it is about to define
    (code == next free code): the classic KwKwK case."""
    idx = np.array([0, 1] * 400 + [0, 0, 0], np.uint8).reshape(11, 73)
    pal = palette(2)
    assert decoded(_roundtrip(encode, decode, idx, pal)) == stats(pal[idx])


def test_lzw_dictionary_reset_at_4096(encode, decode):
    """Enough 8-bit noise grows the dictionary past 4096 entries, forcing a
    mid-stream clear on encode that the decode must follow."""
    idx = np.random.RandomState(7).randint(0, 256, size=(200, 200)).astype(np.uint8)
    pal = palette(256)
    assert decoded(_roundtrip(encode, decode, idx, pal)) == stats(pal[idx])


def test_lzw_truncated_stream_raises(decode):
    """LZW data that ends early, with the block structure intact, decodes to
    a short frame: ImageIO returns it silently, so the decode checks."""
    idx = np.tile(np.arange(16, dtype=np.uint8), (10, 1))
    data = lzw(idx.tobytes(), 4)
    payload = gif([{"idx": idx, "lzw": data[: len(data) // 2]}], palette(16))
    with pytest.raises(Exception, match="truncated GIF: frame 0 data ends"):
        decode([payload])
    # a stream that ends at once (clear, end) is caught the same way
    with pytest.raises(Exception, match="truncated GIF"):
        decode([gif([{"idx": idx, "lzw": lzw(b"", 4)}], palette(16))])


def test_lzw_bad_code_raises(decode):
    # a code far beyond the dictionary must fail loudly, not index garbage
    payload = gif([{"idx": np.zeros((10, 10), np.uint8), "lzw": b"\xff\xff\xff\xff"}], palette(4))
    with pytest.raises(Exception, match="corrupt GIF"):
        decode([payload])


# ---------------------------------------------------------------------------
# Container round trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n_colors", [2, 3, 4, 7, 16, 100, 256])
def test_single_frame_roundtrip_palette_sizes(encode, decode, n_colors):
    """Non-power-of-two logical palettes ride padded physical tables."""
    pal = palette(n_colors)
    idx = np.random.RandomState(n_colors).randint(0, n_colors, size=(13, 17)).astype(np.uint8)
    row = _roundtrip(encode, decode, idx, pal)
    assert decoded(row) == stats(pal[idx]) and row["n_frames"] == 1


def test_interlace_order_spec_values(decode):
    """Spec: pass 1 rows 0,8,..; pass 2 rows 4,12,..; pass 3 2,6,..; pass 4
    the odd rows. A frame written in that raster order decodes to rows in
    image order."""
    assert interlace_order(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    assert interlace_order(1) == [0]
    assert sorted(interlace_order(37)) == list(range(37))
    idx = np.repeat(np.arange(37, dtype=np.uint8)[:, None] % 16, 3, axis=1)
    pal = palette(16)
    (row,) = decode([gif([{"idx": idx}], pal, interlace=True)])
    assert decoded(row) == stats(pal[idx])


@pytest.mark.parametrize("h", [1, 2, 5, 8, 23])
def test_interlaced_roundtrip_equals_plain(encode, decode, h):
    pal = palette(9)
    idx = (np.add.outer(np.arange(h), np.arange(11)) % 9).astype(np.uint8)
    plain = _roundtrip(encode, decode, idx, pal)
    inter = _roundtrip(encode, decode, idx, pal, interlace=True)
    assert decoded(plain) == decoded(inter) == stats(pal[idx])


def test_interlace_actually_reorders_raster(encode):
    """The interlaced payload must differ from the plain one (same pixels,
    different raster order): the flag is not a no-op."""
    pal = palette(4)
    idx = (np.arange(16)[:, None] % 4 * np.ones((1, 8), np.int64)).astype(np.uint8)
    (inter,) = encode([idx], pal, interlace=True)
    (plain,) = encode([idx], pal)
    assert inter != plain


def test_gif87a_header_accepted(encode, decode):
    pal = palette(4)
    idx = np.zeros((4, 4), np.uint8)
    (b,) = encode([idx], pal)
    (row,) = decode([b"GIF87a" + b[6:]])
    assert decoded(row) == stats(pal[idx])


def test_transparency_shows_background(encode, decode):
    pal = palette(5)
    idx = np.array([[0, 1], [2, 3]], np.uint8)
    want = pal[idx].copy()
    want[1, 0] = pal[4]  # the transparent pixel exposes the background colour
    row = _roundtrip(encode, decode, idx, pal, transparent=2, background=4)
    assert decoded(row) == stats(want)


def test_multiframe_disposal_and_local_palette(jvm_call):
    """Three frames: full base, an offset overlay with a transparent hole +
    local palette + disposal 2 (restore background), then a small frame whose
    disposal 3 (restore previous) never affects earlier composites. The base
    colour changes with the column, so each composite's row sums pin where
    the overlay, its hole and the restored rectangle sit horizontally."""
    gpal = palette(6)
    lpal = np.array([[9, 9, 9], [200, 100, 50], [1, 2, 3], [0, 0, 0]], np.uint8)
    base = (np.arange(12) % 6)[None, :].repeat(10, 0).astype(np.uint8)
    over = np.full((4, 5), 1, np.uint8)
    over[1, 1] = 3
    tiny = np.full((2, 2), 2, np.uint8)
    b = gif(
        [
            {"idx": base},
            {"idx": over, "left": 3, "top": 2, "transparent": 3, "disposal": 2, "palette": lpal},
            {"idx": tiny, "disposal": 3},
        ],
        gpal,
        screen=(12, 10),
        background=5,
    )
    c0 = gpal[base]
    c1 = c0.copy()
    region = c1[2:6, 3:8]
    mask = over != 3
    region[mask] = lpal[over][mask]
    c2 = c0.copy()
    c2[2:6, 3:8] = gpal[5]  # disposal 2 restored the overlay rect to bg
    c2[0:2, 0:2] = gpal[2]  # tiny frame has no LCT, so it uses the GCT
    (row,) = jvm_call(MEDIA_DECODE, [b])
    assert row["n_frames"] == 3 and decoded(row) == stats(c0)
    (pngs,) = jvm_call(MEDIA_FRAMES, [b])
    rows = jvm_call(MEDIA_DECODE, list(pngs))
    assert [decoded(r) for r in rows] == [stats(c) for c in (c0, c1, c2)]


@pytest.mark.parametrize(
    "bad",
    [b"", b"GIF89a", b"NOPE\x00\x00\x00\x00\x00\x00\x00\x00\x00", b"GIF89a" + b"\x00" * 7],
)
def test_malformed_inputs_raise_value_error(decode, bad):
    """Each fails the query with the format check's or ImageIO's reason."""
    match = "truncated GIF|I/O error reading" if bad.startswith(b"GIF") else "unknown image format"
    with pytest.raises(Exception, match=match):
        decode([bad])


@pytest.mark.parametrize("cut", [8, 13, 20, 30, 45])
def test_truncated_prefixes_raise_value_error_only(encode, decode, cut):
    (full,) = encode([np.zeros((9, 9), np.uint8)], palette(4))
    with pytest.raises(Exception, match="I/O error reading|truncated GIF"):
        decode([full[: min(cut, len(full) - 1)]])


def test_frame_outside_screen_rejected(decode):
    """ImageIO does not check frame rectangles against the logical screen."""
    pal = palette(4)
    b = gif([{"idx": np.zeros((4, 4), np.uint8), "left": 3, "top": 3}], pal, screen=(7, 7))
    (row,) = decode([b])  # 4x4 at (3,3) fits a 7x7 screen exactly
    assert (row["width"], row["height"]) == (7, 7)
    patched = b[:6] + (6).to_bytes(2, "little") + b[8:]  # width 7 -> 6
    with pytest.raises(Exception, match="outside the 6x7 logical screen"):
        decode([patched])


def test_encoder_rejects_out_of_palette_index(encode):
    with pytest.raises(Exception, match="outside its 4-colour palette"):
        encode([np.full((3, 3), 7, np.uint8)], palette(4))


# ---------------------------------------------------------------------------
# Features, frames and resize
# ---------------------------------------------------------------------------


def test_decode_image_gif_branch(encode, decode):
    pal = palette(5)
    idx = (np.add.outer(np.arange(6), np.arange(9)) % 5).astype(np.uint8)
    row = _roundtrip(encode, decode, idx, pal)
    assert (row["width"], row["height"]) == (9, 6)
    assert row["mean"] == pytest.approx(float(pal[idx].mean()))


def test_demux_frames_gif_to_png(jvm_call):
    """Each composited frame comes out as a PNG. Every base column has its
    own colour, so the row sums pin each overlay's offset."""
    pal = palette(8)
    base = np.tile(np.arange(7, dtype=np.uint8), (5, 1))
    top = np.full((2, 3), 7, np.uint8)
    side = np.full((3, 2), 7, np.uint8)
    b = gif(
        [{"idx": base}, {"idx": top, "left": 4, "top": 1}, {"idx": side, "left": 1, "top": 2}],
        pal,
    )
    c0 = pal[base]
    c1 = c0.copy()
    c1[1:3, 4:7] = pal[7]
    c2 = c1.copy()
    c2[2:5, 1:3] = pal[7]
    (pngs,) = jvm_call(MEDIA_FRAMES, [b])
    assert len(pngs) == 3 and all(p[:8] == b"\x89PNG\r\n\x1a\n" for p in pngs)
    rows = jvm_call(MEDIA_DECODE, list(pngs))
    assert [decoded(r) for r in rows] == [stats(c) for c in (c0, c1, c2)]


def test_resize_image_gif_stays_gif(encode, jvm_call):
    pal = palette(4)
    idx = (np.add.outer(np.arange(8), np.arange(8)) % 4).astype(np.uint8)
    (src,) = encode([idx], pal)
    (out,) = jvm_call(MEDIA_RESIZE, [src], 4, 4)
    assert out[:6] in (b"GIF87a", b"GIF89a")
    ys = xs = (np.arange(4) * 8) // 4
    (row,) = jvm_call(MEDIA_DECODE, [out])
    assert decoded(row) == stats(pal[idx][ys][:, xs])
