"""Multimodal plumbing tests: binary payload + feature extraction on the JDK
image functions (hdfs2cass_spark/jvm/Media.java), with netpbm, PNG and GIF
payloads written in imagebytes.py."""

import numpy as np
import pytest
from imagebytes import (
    PNG_SIG,
    decoded,
    gif,
    netpbm,
    palette,
    parse_netpbm,
    png,
    png_chunk,
    png_from_raw,
    stats,
)
from pyspark.sql import functions as F

from hdfs2cass_spark.jvm import MEDIA_DECODE
from hdfs2cass_spark.operators.multimodal import (
    attach_media,
    extract_features,
    resize_media,
    sample_frames,
)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return attach_media(
        docs.select("doc_id", F.col("text").cast("binary").alias("blob")),
        id_col="doc_id",
        payload_col="blob",
        media_type="image/fake",
    )


def test_media_schema(media):
    assert media.columns == ["media_id", "payload", "media_type", "byte_len"]
    row = media.first()
    assert row["byte_len"] == len(row["payload"])


def test_extract_features_real_decode_raises(media):
    """Text payloads are no image format: the decode must fail loudly, never
    emit garbage features."""
    with pytest.raises(Exception, match="unknown image format"):
        extract_features(media).collect()


def _ppm(width, height, pixel_fn):
    """Binary P6 bytes with pixel_fn(y, x) -> (r, g, b)."""
    raster = bytes(
        c for y in range(height) for x in range(width) for c in pixel_fn(y, x)
    )
    return b"P6\n# test comment\n" + f"{width} {height}\n255\n".encode() + raster


@pytest.fixture(scope="module")
def netpbm_media(spark):
    import pandas as pd

    payloads = [
        _ppm(4, 2, lambda y, x: (10 * x, 10 * y, 100)),
        b"P5\n2 2\n255\n" + bytes([0, 50, 100, 250]),
    ]
    pdf = pd.DataFrame({"media_id": [0, 1], "blob": payloads})
    return attach_media(
        spark.createDataFrame(pdf), id_col="media_id", payload_col="blob",
        media_type="image/x-portable-anymap",
    )


def test_extract_features_deterministic(netpbm_media):
    out = extract_features(netpbm_media)
    assert out.columns == [
        "media_id", "media_type", "byte_len", "width", "height", "n_frames", "mean_intensity",
    ]
    f1 = {r["media_id"]: tuple(r) for r in out.collect()}
    f2 = {r["media_id"]: tuple(r) for r in extract_features(netpbm_media).collect()}
    assert f1 == f2 and len(f1) == 2


def test_real_decode_netpbm_features(netpbm_media):
    """netpbm decodes for real: header dimensions and exact mean sample
    value."""
    rows = {r["media_id"]: r for r in extract_features(netpbm_media).collect()}
    p6 = rows[0]
    assert (p6["width"], p6["height"], p6["n_frames"]) == (4, 2, 1)
    expected = sum(
        v for y in range(2) for x in range(4) for v in (10 * x, 10 * y, 100)
    ) / 24
    assert abs(p6["mean_intensity"] - expected) < 1e-9
    p5 = rows[1]
    assert (p5["width"], p5["height"]) == (2, 2)
    assert abs(p5["mean_intensity"] - 100.0) < 1e-9


def test_real_resize_netpbm_nearest_neighbor(netpbm_media):
    rows = {
        r["media_id"]: bytes(r["payload"])
        for r in resize_media(netpbm_media, width=2, height=1).collect()
    }
    w, h, ch, px = parse_netpbm(rows[0])
    assert (w, h, ch) == (2, 1, 3)
    # nearest-neighbor from the 4x2 source: rows map to y=0, cols to x=0,2
    assert px[0, 0].tolist() == [0, 0, 100]
    assert px[0, 1].tolist() == [20, 0, 100]
    w, h, ch, px = parse_netpbm(rows[1])
    assert (w, h, ch) == (2, 1, 1)
    assert px[0, 0].tolist() == [0] and px[0, 1].tolist() == [50]


def test_real_frames_concatenated_netpbm_stream(spark):
    """A concatenated-P6 stream (ffmpeg image2pipe layout) demuxes natively:
    every_n selection over REAL frame boundaries, each frame re-parseable."""
    import pandas as pd

    frames_src = [_ppm(2, 1, lambda y, x, i=i: (i, i, i)) for i in range(5)]
    stream = b"".join(frames_src)
    pdf = pd.DataFrame({"media_id": [7], "blob": [stream]})
    media = attach_media(
        spark.createDataFrame(pdf), id_col="media_id", payload_col="blob",
        media_type="video/x-ppm-stream",
    )
    rows = sorted(
        sample_frames(media, every_n=2).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]
    for r in rows:
        assert bytes(r["frame"]) == frames_src[r["frame_idx"]]
        assert r["frame_len"] == len(frames_src[r["frame_idx"]])
        w, h, ch, px = parse_netpbm(bytes(r["frame"]))
        assert (w, h, ch) == (2, 1, 3)
        assert px[0, 0].tolist() == [r["frame_idx"]] * 3


def test_resize_media_shape_and_determinism(netpbm_media):
    out = resize_media(netpbm_media, width=8, height=4)
    rows = out.collect()
    assert out.columns == ["media_id", "media_type", "payload", "byte_len", "width", "height"]
    assert len(rows) == netpbm_media.count()
    for r in rows:
        assert parse_netpbm(bytes(r["payload"]))[:2] == (8, 4)
        assert r["byte_len"] == len(r["payload"]) and (r["width"], r["height"]) == (8, 4)
    again = {r["media_id"]: bytes(r["payload"]) for r in resize_media(netpbm_media, 8, 4).collect()}
    assert again == {r["media_id"]: bytes(r["payload"]) for r in rows}


def test_sample_frames_amplifies_inside_batches(spark, jvm_call):
    """1 -> N amplification keeping every N-th frame: a 3-frame GIF (frames
    composited and re-encoded as PNG), a 5-image P5 stream and a still image."""
    import pandas as pd

    pal = palette(4)
    gif_frames = [np.full((2, 3), k, np.uint8) for k in range(3)]
    stream = [netpbm(np.full((2, 2), 40 * k, np.uint8)) for k in range(5)]
    payloads = [gif([{"idx": f} for f in gif_frames], pal), b"".join(stream), stream[1]]
    pdf = pd.DataFrame({"media_id": [0, 1, 2], "blob": payloads})
    media = attach_media(spark.createDataFrame(pdf), "media_id", "blob", "video/mixed")
    frames = sample_frames(media, every_n=2)
    assert frames.columns == ["media_id", "frame_idx", "frame", "frame_len"]
    by_media = {}
    for r in frames.collect():
        by_media.setdefault(r["media_id"], {})[r["frame_idx"]] = bytes(r["frame"])
    assert {m: sorted(f) for m, f in by_media.items()} == {0: [0, 2], 1: [0, 2, 4], 2: [0]}
    assert [by_media[1][i] for i in (0, 2, 4)] == stream[::2] and by_media[2][0] == stream[1]
    pngs = [by_media[0][i] for i in (0, 2)]
    assert all(p[:8] == PNG_SIG for p in pngs)
    assert [decoded(r) for r in jvm_call(MEDIA_DECODE, pngs)] == [
        stats(pal[gif_frames[i]]) for i in (0, 2)
    ]
    with pytest.raises(ValueError):
        sample_frames(media, every_n=0)

def _forward_filter(px, filters):
    """Independent FORWARD PNG filtering (the encoder direction, written
    from the spec in this test, not shared with the decoder) — so the
    decoder's unfiltering is checked against a second implementation."""
    import numpy as np

    h, w, ch = px.shape
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int32)
    out = []
    for y in range(h):
        f = filters[y]
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, np.int32)
        row = bytearray([f])
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            x = int(cur[i])
            if f == 0:
                v = x
            elif f == 1:
                v = x - a
            elif f == 2:
                v = x - b
            elif f == 3:
                v = x - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = x - pred
            row.append(v & 0xFF)
        out.append(bytes(row))
    return b"".join(out)


def test_png_16bit_roundtrip_and_filters(jvm_call):
    """Depth-16 PNG per colour type, filter 0 and the five filters run by
    the independent forward filter over the BYTE view with bpp = 2*ch (the
    spec's 'left' reaches bpp bytes back): exact width, height and samples'
    statistics."""
    rng = np.random.RandomState(16)
    payloads, want = [], []
    for ch, ctype in ((1, 0), (3, 2), (2, 4), (4, 6)):
        px = rng.randint(0, 1 << 16, size=(5, 4, ch)).astype(np.uint16)
        px[0, 0] = 0
        px[0, 1] = 0xFFFF  # force the extremes through the byte split
        bview = np.ascontiguousarray(px.astype(">u2")).view(np.uint8).reshape(5, 4, 2 * ch)
        raw = _forward_filter(bview, filters=[0, 1, 2, 3, 4])
        payloads += [png(px), png_from_raw(4, 5, ctype, raw, depth=16)]
        want += [stats(px)] * 2
    assert [decoded(r) for r in jvm_call(MEDIA_DECODE, payloads)] == want


def test_png_adam7_roundtrip(jvm_call):
    """Adam7 interlace at sizes with empty and partial passes, both depths;
    the interlaced payload genuinely differs from the plain one."""
    rng = np.random.RandomState(77)
    payloads, want = [], []
    for w0, h0 in ((1, 1), (3, 2), (7, 7), (8, 8), (13, 9), (16, 5)):
        for dt, hi in ((np.uint8, 256), (np.uint16, 1 << 16)):
            px = rng.randint(0, hi, size=(h0, w0, 3)).astype(dt)
            payloads.append(png(px, interlace=True))
            want.append(stats(px))
    assert [decoded(r) for r in jvm_call(MEDIA_DECODE, payloads)] == want
    px = rng.randint(0, 256, size=(8, 8, 1), dtype=np.uint8)
    assert png(px, interlace=True) != png(px)


def test_png_16bit_palette_rejected(jvm_call):
    raw = b"\x00" + b"\x00" * 2  # one row, junk
    with pytest.raises(Exception, match="Bad color type/bit depth combination"):
        jvm_call(MEDIA_DECODE, [png_from_raw(1, 1, 3, raw, plte=b"\x00" * 6, depth=16)])


def test_png_builtin_all_filters_and_color_types(jvm_call):
    """Every scanline filter and every 8-bit colour type, written by an
    independent forward filter; palette images expand through PLTE to RGB."""
    rng = np.random.RandomState(7)
    payloads, want = [], []
    for ch, ctype in ((1, 0), (3, 2), (2, 4), (4, 6)):
        px = rng.randint(0, 256, size=(5, 4, ch), dtype=np.uint8)
        raw = _forward_filter(px, filters=[0, 1, 2, 3, 4])
        payloads += [png_from_raw(4, 5, ctype, raw), png(px)]
        want += [stats(px)] * 2
    idx = rng.randint(0, 4, size=(3, 3, 1), dtype=np.uint8)
    plte = bytes(rng.randint(0, 256, size=12, dtype=np.uint8))
    payloads.append(png_from_raw(3, 3, 3, _forward_filter(idx, filters=[0, 1, 4]), plte=plte))
    want.append(stats(np.frombuffer(plte, np.uint8).reshape(-1, 3)[idx[:, :, 0]]))
    assert [decoded(r) for r in jvm_call(MEDIA_DECODE, payloads)] == want


def test_png_builtin_rejects_corruption(jvm_call):
    """ImageIO ignores chunk CRCs, so the decode checks them; a bad
    signature is no image format; a short zlib stream fails ImageIO."""
    import zlib

    good = png(np.zeros((2, 2, 3), np.uint8))
    bad = bytearray(good)
    bad[20] ^= 0xFF  # flip a byte inside IHDR -> CRC mismatch
    with pytest.raises(Exception, match="PNG chunk IHDR CRC mismatch"):
        jvm_call(MEDIA_DECODE, [bytes(bad)])
    with pytest.raises(Exception, match="unknown image format"):
        jvm_call(MEDIA_DECODE, [b"JUNK" + good])
    raw = zlib.compress(b"\x00" + bytes(6) + b"\x00" + bytes(6))
    short = good[:33] + png_chunk(b"IDAT", raw[: len(raw) // 2]) + png_chunk(b"IEND", b"")
    with pytest.raises(Exception, match="Error reading PNG image data"):
        jvm_call(MEDIA_DECODE, [short])


def test_real_decode_png_builtin(spark, jvm_call):
    """The decode over a REAL compressed format: PNG payloads flow through
    attach_media -> extract_features with exact width/height/mean, and
    resize_media round-trips PNG -> PNG."""
    import pandas as pd

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    pdf = pd.DataFrame({"media_id": [0], "blob": [png(arr)]})
    media = attach_media(
        spark.createDataFrame(pdf), id_col="media_id", payload_col="blob",
        media_type="image/png",
    )
    row = extract_features(media).collect()[0]
    assert (row["width"], row["height"], row["n_frames"]) == (4, 4, 1)
    assert abs(row["mean_intensity"] - arr.mean()) < 1e-9

    rz = resize_media(media, width=2, height=2).collect()[0]
    assert bytes(rz["payload"])[:8] == b"\x89PNG\r\n\x1a\n"
    assert rz["byte_len"] == len(rz["payload"]) and (rz["width"], rz["height"]) == (2, 2)
    (dec,) = jvm_call(MEDIA_DECODE, [bytes(rz["payload"])])
    assert decoded(dec) == stats(arr[[0, 2]][:, [0, 2]])  # nearest-neighbour grid


def test_parse_png_truncated_chunk_raises_valueerror(jvm_call):
    """A length-inflated chunk header fails by name, before ImageIO reads it."""
    import struct

    evil = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 10_000) + b"IHDR" + b"\x00" * 4
    with pytest.raises(Exception, match="truncated PNG: chunk IHDR overruns"):
        jvm_call(MEDIA_DECODE, [evil])


def test_resize_and_frames_keep_the_format(jvm_call):
    """A resized payload keeps its format; a still image is its own one
    frame. (A GIF's frames are composited, so they come out as PNG.)"""
    from hdfs2cass_spark.jvm import JPEG_ENCODE, MEDIA_FRAMES, MEDIA_RESIZE

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    pnm = b"P6\n4 4\n255\n" + img.tobytes()
    (jpeg,) = jvm_call(JPEG_ENCODE, [pnm], 90, False)
    still = [pnm, png(img), jpeg]
    resized = jvm_call(MEDIA_RESIZE, still, 3, 2)
    assert [r[:2] for r in resized] == [b"P6", b"\x89P", b"\xff\xd8"]
    assert [(r["width"], r["height"]) for r in jvm_call(MEDIA_DECODE, resized)] == [(3, 2)] * 3
    assert jvm_call(MEDIA_FRAMES, still) == [[p] for p in still]
