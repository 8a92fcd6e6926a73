"""Pure-stdlib PNG codec + real media decode path.

The decoder is validated by round-trip against the encoder for every
color type x every scanline filter, by hand-built palette/error streams,
and end-to-end: a real PNG payload through media_features(mode="real")
must equal the same kernels run on the locally-decoded gray plane.
"""

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from photohive_spark import multimodal, png


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_roundtrip_all_colortypes_all_filters(channels, filter_type):
    rng = np.random.default_rng(channels * 10 + filter_type)
    img = rng.integers(0, 256, (13, 7, channels), dtype=np.uint8)
    out = png.decode_png(png.encode_png(img, filter_type=filter_type))
    np.testing.assert_array_equal(out, img)


def test_roundtrip_gradient_compresses():
    # smooth gradients are the case filters exist for — Sub/Up must beat
    # filter 0 on size AND stay lossless
    y, x = np.mgrid[0:64, 0:64]
    img = np.stack([(x * 4) % 256, (y * 4) % 256, ((x + y) * 2) % 256],
                   axis=2).astype(np.uint8)
    raw = png.encode_png(img, filter_type=0)
    filt = png.encode_png(img, filter_type=2)
    np.testing.assert_array_equal(png.decode_png(raw), img)
    np.testing.assert_array_equal(png.decode_png(filt), img)
    assert len(filt) < len(raw)


def test_palette_decode():
    # hand-built 2x2 palette image: indices 0..3 -> distinct RGB triples
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]],
                   dtype=np.uint8)

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    scan = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 3])
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))
    out = png.decode_png(data)
    np.testing.assert_array_equal(out.reshape(4, 3), pal)


def test_error_paths():
    img = np.zeros((2, 2), dtype=np.uint8)
    good = png.encode_png(img)
    with pytest.raises(ValueError, match="signature"):
        png.decode_png(b"JUNK" + good)
    # flip one IDAT byte -> CRC failure
    bad = bytearray(good)
    idat_at = good.index(b"IDAT") + 4
    bad[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        png.decode_png(bytes(bad))
    # spec-invalid depth rejected loudly (1/2/4/8/16 all supported r5)
    ihdr3 = struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0)

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    data3 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr3)
             + chunk(b"IDAT", zlib.compress(b"\x00" * 4))
             + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="bit depth"):
        png.decode_png(data3)
    # sub-byte depth on a truecolor type is invalid
    ihdr_bad = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    data_bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_bad)
                + chunk(b"IDAT", zlib.compress(b"\x00" * 8))
                + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="grayscale/palette"):
        png.decode_png(data_bad)


@pytest.mark.parametrize("channels", [1, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 2, 4])
def test_adam7_roundtrip(channels, filter_type):
    """Adam7: every pass is an independently-filtered sub-image; decode
    must reassemble the exact pixel grid. Dims chosen so several passes
    are non-trivial and one dimension isn't a multiple of 8."""
    rng = np.random.default_rng(channels + filter_type)
    img = rng.integers(0, 256, (21, 13, channels), dtype=np.uint8)
    data = png.encode_png(img, filter_type=filter_type, interlace=True)
    # really interlaced: IHDR interlace byte set
    assert data[8 + 8 + 12] == 1
    np.testing.assert_array_equal(png.decode_png(data), img)
    # tiny images leave some passes empty
    small = rng.integers(0, 256, (3, 2, channels), dtype=np.uint8)
    np.testing.assert_array_equal(
        png.decode_png(png.encode_png(small, interlace=True)), small)


@pytest.mark.parametrize("depth", [1, 2, 4])
@pytest.mark.parametrize("interlace", [False, True])
def test_subbyte_gray_roundtrip(depth, interlace):
    """1/2/4-bit grayscale (the web-icon profile): filters run at 1-byte
    distance over packed scanlines with zero-padded row tails; decode
    expands to the full 8-bit range (255/(2^d - 1) per level)."""
    rng = np.random.default_rng(depth)
    vals = rng.integers(0, 1 << depth, (13, 11), dtype=np.uint8)
    data = png.encode_png(vals, filter_type=2, depth=depth,
                          interlace=interlace)
    assert data[8 + 8 + 8] == depth          # IHDR depth byte
    out = png.decode_png(data)
    np.testing.assert_array_equal(
        out[:, :, 0], vals * (255 // ((1 << depth) - 1)))


def test_4bit_palette_decode():
    """Hand-built 4-bit palette image: two indices per byte, high nibble
    first, zero-padded odd-width rows."""
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 7, 7]],
                   dtype=np.uint8)

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    # 3x2 image, indices [[0,1,2],[3,0,1]] -> rows 0x01 0x20 / 0x30 0x10
    ihdr = struct.pack(">IIBBBBB", 3, 2, 4, 3, 0, 0, 0)
    scan = b"\x00" + bytes([0x01, 0x20]) + b"\x00" + bytes([0x30, 0x10])
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))
    out = png.decode_png(data)
    np.testing.assert_array_equal(
        out, pal[np.array([[0, 1, 2], [3, 0, 1]])])


@pytest.mark.parametrize("interlace", [False, True])
def test_16bit_roundtrip(interlace):
    """16-bit depth: filters run at 2-byte-per-sample distance; decode
    reduces to the high byte (the standard 16->8 conversion)."""
    rng = np.random.default_rng(16)
    img16 = rng.integers(0, 65536, (12, 9, 3), dtype=np.uint16)
    data = png.encode_png(img16, filter_type=1, interlace=interlace)
    assert data[8 + 8 + 8] == 16            # IHDR depth byte
    out = png.decode_png(data)
    np.testing.assert_array_equal(out, (img16 >> 8).astype(np.uint8))
    # gray 16-bit feeds decode_image_rgb like any other profile
    g16 = rng.integers(0, 65536, (6, 5), dtype=np.uint16)
    p = png.decode_image_rgb(png.encode_png(g16))
    np.testing.assert_allclose(p["r"], (g16 >> 8) / 255.0)


def test_mixed_adaptive_filter_stream():
    """Real encoders (libpng) pick a filter PER ROW; the decoder's
    run-batched wavefront path must reassemble a stream whose filter
    types alternate every row — including runs of Average/Paeth between
    other types — byte-exactly."""
    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (20, 9, 3), dtype=np.uint8)
    parts = []
    prev = np.zeros(27, dtype=np.int32)
    for y in range(20):
        ftype = [0, 4, 3, 2, 4, 4, 1, 3, 3][y % 9]
        row = img[y].reshape(-1).astype(np.int32)
        blob = png._filter_rows(np.vstack([prev, row]), 3, ftype)
        parts.append(blob[28:])             # drop the helper's first row
        prev = row

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 9, 20, 8, 2, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + chunk(b"IEND", b""))
    np.testing.assert_array_equal(png.decode_png(data), img)


def _scalar_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """PNG spec §9 reverse filtering, one byte at a time."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1:(y + 1) * (stride + 1)]
        for x in range(stride):
            a = int(out[y, x - bpp]) if x >= bpp else 0
            b = int(out[y - 1, x]) if y else 0
            c = int(out[y - 1, x - bpp]) if y and x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out[y, x] = (line[x] + pred) & 255
    return out


@pytest.mark.parametrize("shape", [(2000, 32), (24, 2000)])
@pytest.mark.parametrize("filter_type", [3, 4])
def test_wavefront_long_run_exact_and_linear_memory(shape, filter_type):
    """One Average/Paeth run over a whole tall (or wide) image decodes
    bit-identically to the scalar spec, and the decode's traced peak
    stays under 32 bytes per decoded byte. The wavefront buffers used to
    be (m+w) x (m+1) cells for an m-row run, quadratic in a tall image's
    height: about 98 MB for the 2000x32 RGB case."""
    import tracemalloc

    h, w = shape
    rng = np.random.default_rng(filter_type)
    img = ((np.arange(h)[:, None, None] + np.arange(w)[None, :, None] * 3
            + rng.integers(0, 24, (h, w, 3))) % 256).astype(np.uint8)
    data = png.encode_png(img, filter_type=filter_type)
    raw = zlib.decompress(b"".join(
        body for typ, body in png._chunks(data) if typ == b"IDAT"))
    spec = _scalar_unfilter(raw, h, w * 3, 3).reshape(h, w, 3)
    np.testing.assert_array_equal(spec, img)
    tracemalloc.start()
    try:
        out = png.decode_png(data)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    np.testing.assert_array_equal(out, spec)
    assert peak < 32 * img.nbytes, (peak, img.nbytes)


def _png_with_idat(w, h, interlace, idat):
    """An RGB PNG whose IHDR declares w x h and whose IDAT is ``idat``."""
    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


@pytest.mark.parametrize("interlace", [0, 1])
def test_inflate_stops_at_the_size_ihdr_declares(interlace):
    """A 204 KB payload that declares 350x350 RGB (368 KB of scanlines)
    but whose IDAT inflates to 200 MB of zeros raises after inflating at
    most one byte past the declared size. An uncapped inflate peaked at
    437 MB under tracemalloc before the length check raised."""
    import tracemalloc

    c = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    idat = b"".join(c.compress(zeros) for _ in range(200)) + c.flush()
    data = _png_with_idat(350, 350, interlace, idat)
    assert len(data) < 256 << 10
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="past the size IHDR declares"):
            png.decode_png(data)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20, peak


@pytest.mark.parametrize("interlace", [0, 1])
def test_truncated_or_short_idat_raises(interlace):
    stride = 11 * 3 + 1                      # filter byte + one RGB row
    full = zlib.compress(b"\x00" * (9 * stride))
    with pytest.raises(ValueError, match="truncated"):
        png.decode_png(_png_with_idat(11, 9, interlace, full[:-6]))
    # a complete stream that inflates short of the declared size
    with pytest.raises(ValueError, match="does not match"):
        png.decode_png(_png_with_idat(
            11, 9, interlace, zlib.compress(b"\x00" * (8 * stride))))


def test_decode_rgb_contract():
    """decode_image_rgb matches the reference pil_image_to_image_rgb contract:
    planar float [0,1], gray expands to equal planes, alpha dropped."""
    gray = np.arange(16, dtype=np.uint8).reshape(4, 4)
    p = png.decode_image_rgb(png.encode_png(gray))
    np.testing.assert_allclose(p["r"], gray / 255.0)
    np.testing.assert_array_equal(p["r"], p["g"])
    assert p["height"] == 4 and p["width"] == 4
    rgba = np.dstack([gray, gray * 2, gray * 3, np.full((4, 4), 7)]) \
        .astype(np.uint8)
    p2 = png.decode_image_rgb(png.encode_png(rgba))
    np.testing.assert_allclose(p2["b"], (gray * 3).astype(np.uint8) / 255.0)


def _wav_bytes(samples_i16: np.ndarray, rate: int = 8000,
               n_ch: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_ch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples_i16.astype("<i2").tobytes())
    return buf.getvalue()


def test_wav_decode():
    t = np.arange(800)
    sig = (np.sin(2 * np.pi * t / 50) * 20000).astype(np.int16)
    x = png.decode_wav_samples(_wav_bytes(sig))
    assert x.shape == (800,)
    np.testing.assert_allclose(x, (sig + 32768.0) / 65535.0, atol=1e-12)
    # stereo averages to mono
    st = np.column_stack([sig, np.zeros_like(sig)]).reshape(-1)
    x2 = png.decode_wav_samples(_wav_bytes(st, n_ch=2))
    assert x2.shape == (800,)
    zero_level = 32768.0 / 65535.0          # int16 0 is NOT exactly 0.5
    np.testing.assert_allclose(
        x2, ((sig + 32768.0) / 65535.0 + zero_level) / 2.0, atol=1e-12)


def test_media_features_real_decode(spark):
    """End-to-end: REAL PNG + WAV payloads through the Spark pipeline with
    mode='real' equal the per-doc kernels on the locally-decoded samples —
    the reference's actual ingest boundary (utils.py:30-46), no fake."""
    from photohive_spark import kernels as K
    from photohive_spark.config import DEFAULT_CONFIG as CFG

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    png_bytes = png.encode_png(img, filter_type=4)
    sig = (np.sin(np.arange(1000) / 9.0) * 15000).astype(np.int16)
    wav_bytes = _wav_bytes(sig)
    rows = [
        ("r0", "image", png_bytes, 24, 24, None, None),
        ("r1", "audio", wav_bytes, None, None, 8000, None),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in
           multimodal.media_features(media, mode="real").collect()}

    for mid, x in [("r0", multimodal.decode_stub(png_bytes, "image", {},
                                                 mode="real")),
                   ("r1", png.decode_wav_samples(wav_bytes))]:
        g = got[mid]
        mean, std = K.rms_stats(x)
        assert g.n_samples == len(x)
        assert g.rms_mean == pytest.approx(mean, rel=1e-12)
        assert g.rms_std == pytest.approx(std, rel=1e-12)
        assert g.sharpness_avg == pytest.approx(
            K.sharpness_avg(x, CFG), rel=1e-9)


def test_media_features_real_decode_names_bad_row(spark):
    rows = [("ok", "image",
             png.encode_png(np.zeros((4, 4), dtype=np.uint8)),
             4, 4, None, None),
            ("broken", "image", b"not a png", None, None, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="broken"):
        multimodal.media_features(media, mode="real").collect()


def _local_image_report(r, g, b, cfg=None):
    from photohive_spark import kernels as K
    from photohive_spark.config import DEFAULT_CONFIG
    cfg = cfg or DEFAULT_CONFIG
    gray = K.rgb2pgm(r, g, b)
    rms_mean, rms_std = K.rms_stats(gray.reshape(-1))
    dc_bias = (float(r.mean()) + float(g.mean()) + float(b.mean())) / 3.0
    rate = cfg.downsample_rate
    nh, nw = r.shape[0] // rate, r.shape[1] // rate
    h, s, v = K.rgb2hsv(r[:nh * rate:rate, :nw * rate:rate].reshape(-1),
                        g[:nh * rate:rate, :nw * rate:rate].reshape(-1),
                        b[:nh * rate:rate, :nw * rate:rate].reshape(-1))
    gi = K.hist_bin_ids(h, s, v, cfg)
    counts = np.bincount(gi, minlength=cfg.hist_cells).astype(np.int64)
    return {
        "rms_mean": rms_mean, "rms_std": rms_std,
        "mean_norm_value": float(s.mean()),
        "hist_entropy": K.entropy(counts),
        "palette": K.palette(h, s, v, cfg, g=gi, counts=counts),
        "peaks": K.spectral_peaks(
            K.blur_profile_plane(gray, cfg, dc_bias=dc_bias), cfg),
        "sharpness_avg": K.sharpness_plane_avg(gray, cfg),
        "sharpness_var": K.sharpness_plane_var(gray),
    }


def test_image_report_real_matches_local_kernels(spark):
    """Spark image_report(mode='real') on real PNG payloads row-for-row
    equals the same 2-D kernel composition run locally on the decoded
    planes — the reference's get_full_report_data stage order
    (interface.c:28-93) at the real ingest boundary."""
    rng = np.random.default_rng(7)
    imgs = {f"im{i}": rng.integers(0, 256, (20 + 4 * i, 24, 3),
                                   dtype=np.uint8) for i in range(3)}
    rows = [(mid, "image", png.encode_png(a, filter_type=2),
             a.shape[1], a.shape[0], None, None) for mid, a in imgs.items()]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in
           multimodal.image_report(media, mode="real").collect()}
    for mid, a in imgs.items():
        p = png.decode_image_rgb(png.encode_png(a))
        want = _local_image_report(p["r"], p["g"], p["b"])
        gr = got[mid]
        assert (gr.height, gr.width) == a.shape[:2]
        assert gr.rms_mean == pytest.approx(want["rms_mean"], rel=1e-12)
        assert gr.rms_std == pytest.approx(want["rms_std"], rel=1e-12)
        assert gr.mean_norm_value == pytest.approx(
            want["mean_norm_value"], rel=1e-12)
        assert gr.hist_entropy == pytest.approx(
            want["hist_entropy"], rel=1e-12)
        assert gr.sharpness_avg == pytest.approx(
            want["sharpness_avg"], rel=1e-12)
        assert gr.sharpness_var == pytest.approx(
            want["sharpness_var"], rel=1e-12)
        np.testing.assert_allclose(
            np.array(gr.palette), np.array(want["palette"]), rtol=1e-12)
        assert [(int(a_), m_) for a_, m_ in
                np.array(gr.spectral_peaks).reshape(-1, 2)] == \
            [(int(a_), pytest.approx(m_, rel=1e-9))
             for a_, m_ in want["peaks"]]


def test_image_report_dc_bias_and_2d_downsample(spark):
    """Regression for two reference-parity fixes: (a) blur-profile DC bias
    is (Br+Bg+Bb)/3 — on a pure-blue image that's 1/3, NOT the BT.601
    gray mean 0.114 (interface.c:78-79); (b) downsample_rate>1 subsamples
    the 2-D grid NxN with floor'd dims (image_processing.c:344), not a
    1-D stride over the flattened plane."""
    from dataclasses import replace
    from photohive_spark import kernels as K
    from photohive_spark.config import DEFAULT_CONFIG

    rng = np.random.default_rng(11)
    a = rng.integers(0, 256, (21, 26, 3), dtype=np.uint8)  # non-multiple dims
    blue = np.zeros((16, 16, 3), dtype=np.uint8)
    blue[:, :, 2] = 255
    cfg = replace(DEFAULT_CONFIG, downsample_rate=2)
    rows = [("a", "image", png.encode_png(a), 26, 21, None, None),
            ("blue", "image", png.encode_png(blue), 16, 16, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in
           multimodal.image_report(media, cfg=cfg, mode="real").collect()}

    # (a) pure-blue: profile DC bin removes bias (B_bar+0+0)/3 = 1/3, so
    # peaks must equal the local kernel run with dc_bias=1/3 — and differ
    # from a run with the old (wrong) gray-mean bias
    p = png.decode_image_rgb(png.encode_png(blue))
    gray = K.rgb2pgm(p["r"], p["g"], p["b"])
    want = K.spectral_peaks(
        K.blur_profile_plane(gray, cfg, dc_bias=1.0 / 3.0), cfg)
    got_peaks = [(int(x), m) for x, m in
                 np.array(got["blue"].spectral_peaks).reshape(-1, 2)]
    assert got_peaks == [(int(x), pytest.approx(m, rel=1e-9))
                         for x, m in want]

    # (b) rate=2 on 21x26: histogram path sees floor(21/2)*floor(26/2)
    # = 10*13 = 130 samples taken on the 2-D grid
    pa = png.decode_image_rgb(png.encode_png(a))
    want_a = _local_image_report(pa["r"], pa["g"], pa["b"], cfg=cfg)
    assert got["a"].hist_entropy == pytest.approx(
        want_a["hist_entropy"], rel=1e-12)
    assert got["a"].mean_norm_value == pytest.approx(
        want_a["mean_norm_value"], rel=1e-12)
    r2d = pa["r"][:20:2, :26:2]
    assert r2d.shape == (10, 13)
    h2, s2, v2 = K.rgb2hsv(r2d.reshape(-1), pa["g"][:20:2, :26:2].reshape(-1),
                           pa["b"][:20:2, :26:2].reshape(-1))
    assert got["a"].mean_norm_value == pytest.approx(float(s2.mean()),
                                                     rel=1e-12)


def test_image_report_semantics(spark):
    """Flat color -> zero entropy + single 100% palette entry; blurring an
    image must reduce Laplacian sharpness."""
    from photohive_spark import kernels as K

    flat = np.full((16, 16, 3), 200, dtype=np.uint8)
    rng = np.random.default_rng(3)
    noisy = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    # box-blur the noisy image with our own 2-D conv (3x3 ones / 9)
    blurred = np.stack([
        np.clip(K.filter_plane_zeropad(noisy[:, :, c].astype(float),
                                       np.ones((3, 3)) / 9.0), 0, 255)
        for c in range(3)], axis=2).astype(np.uint8)
    rows = [("flat", "image", png.encode_png(flat), 16, 16, None, None),
            ("noisy", "image", png.encode_png(noisy), 32, 32, None, None),
            ("blurred", "image", png.encode_png(blurred), 32, 32, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r.media_id: r for r in
           multimodal.image_report(media, mode="real").collect()}
    assert got["flat"].hist_entropy == pytest.approx(0.0)
    assert len(got["flat"].palette) == 1
    assert got["flat"].palette[0][3] == pytest.approx(1.0)  # pct fraction
    assert got["blurred"].sharpness_avg < got["noisy"].sharpness_avg
    # NOTE: flat sharpness is NOT 0 — the reference's filter_image zero-pads,
    # so a constant image still has Laplacian response along the border
    # (corner: 8c - 3c = 5c); the interior is exactly 0
    lap = np.array([[-1., -1., -1.], [-1., 8., -1.], [-1., -1., -1.]])
    interior = K.filter_plane_zeropad(
        np.full((16, 16), 200 / 255 * 0.299 + 200 / 255 * 0.587
                + 200 / 255 * 0.114), lap)[2:-2, 2:-2]
    np.testing.assert_allclose(interior, 0.0, atol=1e-12)


def test_image_report_fake_mode(spark):
    media = spark.createDataFrame(
        [("f0", "image", b"\x01\x02", 12, 8, None, None)],
        multimodal.MEDIA_SCHEMA)
    got = multimodal.image_report(media, mode="fake").collect()[0]
    assert (got.height, got.width) == (8, 12)
    assert 0.0 <= got.rms_mean <= 1.0


def test_blur_profile_plane_consistent_with_framed():
    """blur_profile_2d (framed 1-D recast) must equal blur_profile_plane
    on the plane it frames."""
    from photohive_spark import kernels as K
    from photohive_spark.config import DEFAULT_CONFIG as CFG
    rng = np.random.default_rng(5)
    x = rng.random(CFG.frame_width * 7 + 3)
    w = CFG.frame_width
    plane = x[: (x.size // w) * w].reshape(-1, w)
    np.testing.assert_allclose(
        K.blur_profile_2d(x, CFG, dc_bias=0.25),
        K.blur_profile_plane(plane, CFG, dc_bias=0.25), rtol=1e-12)


def test_degenerate_dimensions_all_codecs():
    """1x1 / 1xN / Nx1 images round-trip through every codec (empty
    Adam7 passes, single-MCU JPEG, single-pixel LZW, 1-row wavefront)."""
    from photohive_spark import bmp, gif, jpeg

    rng = np.random.default_rng(0)
    for shape in [(1, 1), (1, 17), (16, 1), (1, 1, 3), (2, 1, 3),
                  (1, 2, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        want3 = img if img.ndim == 3 else img[:, :, None]
        for kw in [{}, {"interlace": True}, {"filter_type": 4}]:
            np.testing.assert_array_equal(
                png.decode_png(png.encode_png(img, **kw)), want3)
        for enc in (jpeg.encode_jpeg, jpeg.encode_jpeg_progressive):
            assert jpeg.decode_jpeg(enc(img, quality=95)).shape[:2] \
                == shape[:2]
        np.testing.assert_array_equal(
            bmp.decode_bmp(bmp.encode_bmp(img)),
            img if img.ndim == 3 else np.stack([img] * 3, axis=2))
        if img.ndim == 2:
            pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
            for il in (False, True):
                out = gif.decode_gif(
                    gif.encode_gif(img, palette=pal,
                                   interlace=il))["frames"][0]
                np.testing.assert_array_equal(out, pal[img])
