"""Baseline JPEG codec: encoder<->decoder round trip, independent
validation against real JPEGs produced by external encoders (system test
files), cross-format pixel agreement with the PNG codec, and the
magic-byte dispatch into the Spark media pipeline."""

import os

import numpy as np
import pytest

from photohive_spark import jpeg, multimodal, png

_SYS = "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11"
_EXTERNAL = [
    (f"{_SYS}/site-packages/IPython/core/tests/2x2.jpg", (2, 2)),
    (f"{_SYS}/test/imghdrdata/python.jpg", (16, 16)),
    ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/doc"
     "/rust/html/embedded-book/assets/verify.jpeg", (477, 720)),
]


def test_roundtrip_flat_exact():
    img = np.full((16, 16), 128, dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img))
    assert out.shape == (16, 16, 1)
    np.testing.assert_array_equal(out[:, :, 0], img)


def test_roundtrip_gradient_tight():
    y, x = np.mgrid[0:24, 0:32]
    img = np.stack([(x * 8) % 256, (y * 8) % 256, ((x + y) * 4) % 256],
                   axis=2).astype(np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95))
    assert out.shape == img.shape
    assert np.abs(out.astype(float) - img.astype(float)).max() <= 4


@pytest.mark.parametrize("shape", [(17, 19, 3), (8, 8, 3), (9, 8, 1)])
def test_roundtrip_noise_psnr(shape):
    # non-multiple-of-8 dims exercise the edge-replicated padding
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    out = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95))
    assert out.shape == (shape[0], shape[1], shape[2])
    err = out.astype(float) - img.astype(float)
    psnr = 10 * np.log10(255.0 ** 2 / (err ** 2).mean())
    assert psnr >= 30.0, psnr


def test_quality_tradeoff():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    hi = jpeg.encode_jpeg(img, quality=95)
    lo = jpeg.encode_jpeg(img, quality=20)
    assert len(lo) < len(hi)

    def mse(d):
        o = jpeg.decode_jpeg(d).astype(float)
        return ((o - img) ** 2).mean()

    assert mse(lo) > mse(hi)


@pytest.mark.parametrize("path,shape", [
    pytest.param(p, s, marks=pytest.mark.skipif(
        not os.path.exists(p), reason="system file absent"))
    for p, s in _EXTERNAL])
def test_decode_external_jpegs(path, shape):
    """Real JPEGs from external encoders (IPython/CPython/Rust docs test
    assets) — validates the decoder against files our encoder never
    produced, including 4:2:0 chroma subsampling on the large photo."""
    out = jpeg.decode_jpeg(open(path, "rb").read())
    assert out.shape[:2] == shape
    assert out.shape[2] in (1, 3)
    # plausible pixel content, not garbage
    assert 5.0 < float(out.mean()) < 250.0


def test_cross_format_agreement_with_png():
    """imghdrdata ships the SAME logo as python.jpg and python.png —
    decoding each with our two independent codecs must agree within
    JPEG's lossy error (both files come from external encoders)."""
    jp = f"{_SYS}/test/imghdrdata/python.jpg"
    pp = f"{_SYS}/test/imghdrdata/python.png"
    if not (os.path.exists(jp) and os.path.exists(pp)):
        pytest.skip("system files absent")
    j = jpeg.decode_jpeg(open(jp, "rb").read()).astype(float)
    p = png.decode_png(open(pp, "rb").read())[:, :, :3].astype(float)
    assert j.shape == p.shape
    assert np.abs(j - p).mean() < 15.0


@pytest.mark.parametrize("shape", [(16, 16), (17, 19, 3), (64, 48, 3),
                                   (8, 8, 3), (9, 8)])
def test_progressive_decode_equals_baseline(shape):
    """encode_jpeg_progressive shares the quantized coefficients with
    encode_jpeg (one vectorized quantizer), so decoding the progressive
    stream must reproduce the baseline decode EXACTLY — pinning every
    Annex-G path (DC first/refine, split-band AC first with EOBn runs,
    AC refinement correction bits) against the sequential decoder."""
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    prog_bytes = jpeg.encode_jpeg_progressive(img, quality=90)
    # really progressive: SOF2 present, SOF0 absent
    assert b"\xff\xc2" in prog_bytes and b"\xff\xc0" not in prog_bytes
    prog = jpeg.decode_jpeg(prog_bytes)
    np.testing.assert_array_equal(base, prog)


def test_progressive_smooth_long_eob_runs():
    """A flat-blocked image drives multi-block EOB runs (the EOBRUN>1
    path on both encoder and decoder sides)."""
    y, x = np.mgrid[0:40, 0:56]
    img = np.stack([(x // 8 * 20) % 256, (y // 8 * 20) % 256,
                    np.full_like(x, 128)], axis=2).astype(np.uint8)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=35))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(img, quality=35))
    np.testing.assert_array_equal(base, prog)


def test_noninterleaved_grayscale_ignores_sampling_factors():
    """Per T.81 A.2.2 a single-component scan is NON-interleaved: MCU =
    one data unit in raster order, sampling factors ignored. A grayscale
    JPEG whose SOF declares 2x2 sampling must decode identically to the
    same stream declaring 1x1 — not scramble data units."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (32, 48), dtype=np.uint8)  # 16-multiples
    plain = jpeg.encode_jpeg(img, quality=92)
    want = jpeg.decode_jpeg(plain)
    patched = bytearray(plain)
    sof_at = plain.index(b"\xff\xc0")
    assert patched[sof_at + 11] == 0x11     # component 0 sampling byte
    patched[sof_at + 11] = 0x22
    got = jpeg.decode_jpeg(bytes(patched))
    np.testing.assert_array_equal(want, got)


def _with_app14(data: bytes, transform: int) -> bytes:
    body = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform])
    seg = b"\xff\xee" + (len(body) + 2).to_bytes(2, "big") + body
    return data[:2] + seg + data[2:]


def test_app14_transform_flag():
    """APP14 transform=1 (YCbCr) decodes identically to no marker;
    transform=0 signals literal RGB components — the YCbCr matrix must
    NOT be applied (channel 0 then equals the encoded luma plane)."""
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    data = jpeg.encode_jpeg(img, quality=95)
    std = jpeg.decode_jpeg(data)
    np.testing.assert_array_equal(std, jpeg.decode_jpeg(_with_app14(data, 1)))
    ident = jpeg.decode_jpeg(_with_app14(data, 0))
    assert not np.array_equal(ident, std)   # matrix genuinely skipped
    luma = (0.299 * std[:, :, 0].astype(float)
            + 0.587 * std[:, :, 1] + 0.114 * std[:, :, 2])
    assert np.abs(ident[:, :, 0].astype(float) - luma).max() <= 3.0


@pytest.mark.parametrize("shape", [(17, 19, 3), (32, 32), (24, 40, 3)])
def test_restart_interval_roundtrip(shape):
    """DRI/RSTn streams from our own encoder: decode must equal the
    restart-free decode exactly (restarts change framing, not data) for
    BOTH baseline and progressive — pinning segment splitting, RSTn
    sequence numbers, per-segment DC-predictor and EOBRUN resets."""
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    for ri in (1, 3, 5):
        rb = jpeg.encode_jpeg(img, quality=90, restart_interval=ri)
        assert b"\xff\xdd" in rb and b"\xff\xd0" in rb
        np.testing.assert_array_equal(jpeg.decode_jpeg(rb), plain)
        rp = jpeg.encode_jpeg_progressive(img, quality=90,
                                          restart_interval=ri)
        np.testing.assert_array_equal(jpeg.decode_jpeg(rp), plain)


def test_restart_marker_sequence_validated():
    """A dropped/renumbered restart marker must fail loudly, not resync
    the remaining MCUs to the wrong offset."""
    img = np.random.default_rng(8).integers(0, 256, (32, 32, 3),
                                            dtype=np.uint8)
    data = bytearray(jpeg.encode_jpeg(img, quality=90, restart_interval=2))
    sos_at = bytes(data).index(b"\xff\xda")
    rst_at = bytes(data).index(b"\xff\xd0", sos_at)   # first RST0
    data[rst_at + 1] = 0xD3                           # wrong sequence
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg.decode_jpeg(bytes(data))


def test_progressive_error_paths():
    """Annex-G validation stays loud: a baseline-shaped scan header
    inside a progressive frame, and a >1-bit approximation step, both
    raise."""
    img = np.zeros((8, 8), dtype=np.uint8)
    good = bytearray(jpeg.encode_jpeg(img))
    good[bytes(good).index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive|baseline"):
        jpeg.decode_jpeg(bytes(good))
    prog = bytearray(jpeg.encode_jpeg_progressive(img))
    # first SOS: ...[ns][id td][Ss Se AhAl]; patch AhAl of the DC-first
    # scan (0x01 -> 0x31: Ah=3, Al=1 is not a one-bit step)
    sos_at = bytes(prog).index(b"\xff\xda")
    assert prog[sos_at + 9] == 0x01
    prog[sos_at + 9] = 0x31
    with pytest.raises(ValueError, match="one bit"):
        jpeg.decode_jpeg(bytes(prog))


def test_error_paths():
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"not a jpeg")
    good = bytearray(jpeg.encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    # patch SOF0 -> SOF2: progressive must be rejected loudly
    sof_at = bytes(good).index(b"\xff\xc0")
    good[sof_at + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive|baseline"):
        jpeg.decode_jpeg(bytes(good))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(jpeg.encode_jpeg(
            np.zeros((8, 8), dtype=np.uint8))[:40])   # truncated pre-SOS


def test_dispatch_and_spark_pipeline(spark):
    """decode_image_rgb sniffs JPEG vs PNG; media_features and
    image_report process JPEG payloads end-to-end with mode='real'."""
    from photohive_spark import kernels as K

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    jdata = jpeg.encode_jpeg(img, quality=95)
    p = png.decode_image_rgb(jdata)
    assert p["height"] == 24 and p["width"] == 24
    # dispatch must route identically to the jpeg module
    np.testing.assert_array_equal(
        p["r"], png.planes_from_uint8(jpeg.decode_jpeg(jdata))["r"])

    rows = [("j0", "image", bytearray(jdata), 24, 24, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feat = multimodal.media_features(media, mode="real").collect()[0]
    x = multimodal.decode_stub(jdata, "image", {}, mode="real")
    mean, std = K.rms_stats(x)
    assert feat.n_samples == len(x)
    assert feat.rms_mean == pytest.approx(mean, rel=1e-12)
    rep = multimodal.image_report(media, mode="real").collect()[0]
    assert (rep.height, rep.width) == (24, 24)
    gray = K.rgb2pgm(p["r"], p["g"], p["b"])
    assert rep.rms_mean == pytest.approx(
        K.rms_stats(gray.reshape(-1))[0], rel=1e-12)


def test_folded_lut_invalid_window_not_eob():
    """Regression (r5 review): an AC table's invalid 16-bit windows have
    sym==0 like EOB does — the folded LUT must keep them INVALID (0),
    not mark them end-of-block with a zero-bit advance, or corrupt
    streams decode to garbage instead of raising."""
    from photohive_spark import jpeg_decode as J

    # one 1-bit code: every window starting with a 1-bit is undecodable
    spec = bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x01])
    flut = J._build_flut(spec, "ac")
    assert flut[0xFFFF] == 0
    assert flut[0x0000] > 0                 # the valid code still folds
