"""JPEG on the JDK (hdfs2cass_spark/jvm/Media.java): round trips through
h2c_jpeg_encode and h2c_media_decode, and the damaged payloads that must
fail the query by name. A flat gray image decodes exactly to the closed-form
prediction of plans/image.py; gradients and colour stay within the stated
tolerances; progressive decodes identical to baseline. JPEGs with restart
markers or 4:4:4 colour, which h2c_jpeg_encode does not write, come from the
JDK's writer driven directly. Engine exactness of the jpeg_image_features row
is covered by test_catalog_oracle.py.
"""

from __future__ import annotations

import numpy as np
import pytest
from imagebytes import decoded, netpbm, png

from hdfs2cass_spark.jvm import JPEG_ENCODE, MEDIA_DECODE, MEDIA_RESIZE
from hdfs2cass_spark.plans.image import predicted_gray


@pytest.fixture
def encode(jvm_call):
    def run(images, quality=85, progressive=False):
        return jvm_call(JPEG_ENCODE, [netpbm(i) for i in images], quality, progressive)

    return run


@pytest.fixture
def decode(jvm_call):
    return lambda payloads: jvm_call(MEDIA_DECODE, list(payloads))


_JPEG_TREE = "javax_imageio_jpeg_image_1.0"


@pytest.fixture
def jdk_jpeg(spark):
    """[h, w, ch] uint8 -> a JPEG from the JDK's writer, its metadata edited
    for what h2c_jpeg_encode does not offer: a restart interval (a DRI
    marker, RSTn markers in the scan) or 4:4:4 colour (1x1 sampling)."""
    jvm = spark._jvm
    imageio = jvm.javax.imageio

    def write(px, quality=85, restart_interval=0, subsample=True):
        im = imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(png(px)))
        writer = imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
        param = writer.getDefaultWriteParam()
        param.setCompressionMode(2)  # ImageWriteParam.MODE_EXPLICIT
        param.setCompressionQuality(quality / 100)
        meta = writer.getDefaultImageMetadata(imageio.ImageTypeSpecifier(im), param)
        tree = meta.getAsTree(_JPEG_TREE)
        if not subsample:
            specs = tree.getElementsByTagName("componentSpec")
            for i in range(specs.getLength()):
                specs.item(i).setAttribute("HsamplingFactor", "1")
                specs.item(i).setAttribute("VsamplingFactor", "1")
        if restart_interval:
            dri = imageio.metadata.IIOMetadataNode("dri")
            dri.setAttribute("interval", str(restart_interval))
            markers = tree.getElementsByTagName("markerSequence").item(0)
            markers.insertBefore(dri, markers.getFirstChild())
        meta.setFromTree(_JPEG_TREE, tree)
        out = jvm.java.io.ByteArrayOutputStream()
        stream = imageio.stream.MemoryCacheImageOutputStream(out)
        writer.setOutput(stream)
        writer.write(None, imageio.IIOImage(im, None, meta), param)
        stream.close()
        writer.dispose()
        return bytes(out.toByteArray())

    return write


def _gradient_gray(h=48, w=64):
    x = np.arange(w)
    y = np.arange(h)
    return np.clip(np.add.outer(y * 3, x * 2) // 2, 0, 255).astype(np.uint8)


def _gradient_rgb(h=40, w=56):
    img = np.zeros((h, w, 3), np.uint8)
    img[..., 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    img[..., 1] = np.linspace(255, 0, h, dtype=np.uint8)[:, None]
    img[..., 2] = 90
    return img


def _row_error(row, img) -> float:
    """The largest error of a decoded row's mean sample, in levels."""
    img = img.reshape(img.shape[0], -1).astype(np.float64)
    got = np.array(row["row_sums"], np.float64) / img.shape[1]
    return float(np.abs(got - img.mean(axis=1)).max())


def _roundtrip(encode, decode, img, **kw):
    (row,) = decode(encode([img], **kw))
    return row


@pytest.mark.parametrize("g", [0, 1, 73, 128, 254, 255])
def test_flat_gray_roundtrip_is_constant(encode, decode, g):
    """A flat image is DC-only: decode must return a single level, equal to
    the closed-form quantization prediction."""
    img = np.full((19, 27), g, np.uint8)  # not block-aligned: padding in play
    row = _roundtrip(encode, decode, img)
    assert (row["width"], row["height"]) == (27, 19)
    assert row["min"] == row["max"] == predicted_gray(g)


def test_flat_gray_roundtrip_every_level(encode, decode):
    """Every gray level of jpeg_image_features (g = doc_id % 256) decodes flat
    to its prediction, at a block-aligned and an unaligned size."""
    for h, w in ((8, 8), (13, 6)):
        rows = decode(encode([np.full((h, w), g, np.uint8) for g in range(256)]))
        want = [(predicted_gray(g), predicted_gray(g)) for g in range(256)]
        assert [(r["min"], r["max"]) for r in rows] == want


def test_gray_gradient_high_fidelity(encode, decode):
    img = _gradient_gray()
    row = _roundtrip(encode, decode, img, quality=90)
    assert (row["width"], row["height"]) == (64, 48)
    assert _row_error(row, img) < 1.0
    assert abs(row["mean"] - img.mean()) < 0.25


def _luma_sampling(b: bytes) -> int:
    """The H/V sampling byte of the first component of a baseline SOF."""
    # SOF0: marker(2) len(2) prec(1) h(2) w(2) nc(1) cid(1) -> hv at +11
    return b[b.find(b"\xff\xc0") + 11]


def test_color_444_and_420_roundtrip(encode, decode, jdk_jpeg):
    """Colour (YCbCr) at quality 90: h2c_jpeg_encode writes 4:2:0 chroma, the
    JDK writer with 1x1 sampling 4:4:4. Both decode with every row's mean over
    its three channels within 2 levels and the image mean within 0.5; 4:2:0 is
    the smaller file on chroma-heavy content."""
    img = _gradient_rgb()
    (b420,) = encode([img], quality=90)
    b444 = jdk_jpeg(img, quality=90, subsample=False)
    assert (_luma_sampling(b420), _luma_sampling(b444)) == (0x22, 0x11)
    assert len(b420) < len(b444)
    for row in decode([b420, b444]):
        assert (row["width"], row["height"]) == (56, 40)
        assert _row_error(row, img) < 2.0
        assert abs(row["mean"] - img.mean()) < 0.5


def test_restart_markers_resync(decode, jdk_jpeg):
    """DRI + RSTn: the decoder must resync its predictors at every interval
    and decode the same image as the marker-free encoding."""
    img = _gradient_rgb(24, 40)
    plain, rst = jdk_jpeg(img), jdk_jpeg(img, restart_interval=1)
    assert b"\xff\xdd" not in plain and b"\xff\xdd" in rst
    # 4:2:0 MCUs are 16x16: 2 rows of 3, so 5 RSTn markers between 6 intervals
    assert sum(rst.count(bytes([0xFF, 0xD0 + k])) for k in range(8)) == 5
    a, b = decode([plain, rst])
    assert decoded(a) == decoded(b)


def test_quality_scales_size_and_error(encode, decode):
    img = _gradient_rgb()
    lo, hi = encode([img], quality=20)[0], encode([img], quality=95)[0]
    assert len(lo) < len(hi)
    row_lo, row_hi = decode([lo, hi])
    assert _row_error(row_hi, img) < _row_error(row_lo, img)


def test_arithmetic_sof_rejected_loudly(encode, decode):
    """The JDK's libjpeg decodes an arithmetic-coded frame to garbage with a
    vague warning; the decode refuses it by name."""
    b = bytearray(encode([_gradient_gray(16, 16)])[0])
    i = b.find(b"\xff\xc0")
    b[i + 1] = 0xC9  # masquerade as arithmetic-coded sequential
    with pytest.raises(Exception, match=r"arithmetic-coded JPEG \(SOF 0xC9\)"):
        decode([bytes(b)])


@pytest.mark.parametrize("colour", [False, True])
@pytest.mark.parametrize("noise", [False, True])
def test_progressive_decodes_identical_to_baseline(encode, decode, colour, noise):
    """The decisive progressive check: the progressive scans (spectral
    selection + successive approximation) carry the same quantized
    coefficients as the baseline encoding, so the two decodes agree exactly."""
    if noise:
        shape = (17, 23, 3) if colour else (17, 23)
        img = np.random.RandomState(11).randint(0, 256, shape).astype(np.uint8)
    else:
        img = _gradient_rgb(33, 41) if colour else _gradient_gray(33, 41)
    base, prog = decode(encode([img]) + encode([img], progressive=True))
    assert decoded(base) == decoded(prog)


@pytest.mark.parametrize("tiny", [False, True])
def test_progressive_gray_and_tiny(encode, decode, tiny):
    rng = np.random.RandomState(5)
    imgs = (
        [rng.randint(0, 256, (3, 5)).astype(np.uint8), rng.randint(0, 256, (1, 1)).astype(np.uint8)]
        if tiny
        else [_gradient_gray(19, 27)]
    )
    base = decode(encode(imgs, quality=90))
    prog = decode(encode(imgs, quality=90, progressive=True))
    assert [decoded(r) for r in base] == [decoded(r) for r in prog]


def test_progressive_truncated_scan_raises(encode, decode):
    (b,) = encode([_gradient_gray(32, 32)], progressive=True)
    with pytest.raises(Exception, match="javax.imageio.IIOException"):
        decode([b[: int(len(b) * 0.6)]])


def test_progressive_is_actually_multiscan(encode):
    (plain,) = encode([_gradient_rgb(16, 16)])
    (prog,) = encode([_gradient_rgb(16, 16)], progressive=True)
    assert plain.count(b"\xff\xda") == 1 and plain.find(b"\xff\xc0") >= 0
    # libjpeg's progression script: DC and AC bands, refined by successive
    # approximation, ten scans over Y, Cb and Cr
    assert prog.count(b"\xff\xda") == 10
    assert prog.find(b"\xff\xc2") >= 0  # SOF2, not SOF0


@pytest.mark.parametrize(
    "bad",
    [b"", b"\x00\x01", b"\xff\xd8\xff\xd9", b"\xff\xd8" + b"\xff\xda" + b"\x00\x03" + b"\x00"],
)
def test_malformed_inputs_raise_value_error(decode, bad):
    """Each fails the query with the format check's or ImageIO's reason."""
    match = "unknown image format" if bad[:2] != b"\xff\xd8" else "javax.imageio.IIOException"
    with pytest.raises(Exception, match=match):
        decode([bad])


@pytest.mark.parametrize("cut", [3, 5, 9, 14, 21, 40, 120])
def test_truncated_prefixes_raise_value_error_only(encode, decode, cut):
    """Every truncation point of a real stream fails the query."""
    (full,) = encode([_gradient_gray(16, 16)])
    with pytest.raises(Exception, match="javax.imageio.IIOException"):
        decode([full[: min(cut, len(full) - 1)]])


def test_single_component_scan_is_noninterleaved(encode, decode):
    """T.81 A.2.2: a grayscale JPEG whose SOF declares 2x2 sampling still
    carries a NON-interleaved scan (one data unit per MCU, block raster over
    ceil(w/8) wide rows). Patching the sampling byte must not change the
    decode (interleaved geometry would desync: 24x8 has 3 blocks in raster
    order but 2x4=8 under 2x2 MCU interleave)."""
    (enc,) = encode([_gradient_gray(8, 24)], quality=90)
    enc = bytearray(enc)
    i = enc.find(b"\xff\xc0")
    # SOF0: marker(2) len(2) prec(1) h(2) w(2) nc(1) cid(1) -> hv at +11
    assert enc[i + 11] == 0x11
    enc[i + 11] = 0x22
    plain, patched = decode([bytes(enc[: i + 11]) + b"\x11" + bytes(enc[i + 12 :]), bytes(enc)])
    assert decoded(patched) == decoded(plain)


def test_truncated_entropy_segment_raises(encode, decode):
    """Cut halfway through the scan data: libjpeg pads the rest and only
    warns, and the warning fails the decode."""
    (b,) = encode([_gradient_gray(32, 32)], quality=90)
    sos = b.find(b"\xff\xda")
    with pytest.raises(Exception, match="corrupt JPEG: Truncated File"):
        decode([b[: (sos + len(b)) // 2]])


def test_encoder_input_validation(jvm_call):
    """The encoder takes 8-bit gray or RGB at quality 1-100, nothing else."""
    wide = png(np.zeros((4, 4, 1), np.uint16))
    alpha = png(np.zeros((4, 4, 2), np.uint8))
    for payload in (wide, alpha):
        with pytest.raises(Exception, match="JPEG encodes 8-bit gray or RGB"):
            jvm_call(JPEG_ENCODE, [payload], 85, False)
    with pytest.raises(Exception, match="quality 1-100"):
        jvm_call(JPEG_ENCODE, [netpbm(np.zeros((4, 4), np.uint8))], 0, False)


def test_decode_image_dispatches_jpeg(encode, decode):
    row = _roundtrip(encode, decode, np.full((10, 14), 50, np.uint8))
    assert (row["width"], row["height"], row["n_frames"]) == (14, 10, 1)
    assert row["mean"] == float(predicted_gray(50))


def test_resize_image_roundtrips_jpeg(encode, jvm_call):
    (src,) = encode([_gradient_rgb(32, 32)], quality=90)
    (out,) = jvm_call(MEDIA_RESIZE, [src], 16, 8)
    assert out[:2] == b"\xff\xd8"
    (row,) = jvm_call(MEDIA_DECODE, [out])
    assert (row["width"], row["height"]) == (16, 8)
