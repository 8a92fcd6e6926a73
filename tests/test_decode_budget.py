"""The per-row decode budget: every image codec checks the size its header
declares against png.MAX_DECODE_PIXELS before allocating pixels, and an
over-budget row is an ordinary decode error for on_error."""

import struct
import tracemalloc
import zlib

import numpy as np
import pytest

from photohive_spark import gif, multimodal, png, video


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))


def _zero_png(w: int, h: int) -> bytes:
    """A PNG declaring w x h 8-bit RGB over an all-zero IDAT (filter-0
    rows of zeros), compressed row by row so it is never held inflated."""
    z = zlib.compressobj(9)
    row = bytes(w * 3 + 1)
    idat = b"".join(z.compress(row) for _ in range(h)) + z.flush()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (png._SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b""))


# 4097 x 4096 is the smallest near-square size over the 2^24 budget
W, H = 4097, 4096
HEADERS = {
    "gif": b"GIF89a" + struct.pack("<HH", W, H) + bytes(3) + b";",
    "bmp": (b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
            + struct.pack("<IiiHHI", 40, W, H, 1, 24, 0) + bytes(20)),
    "jpeg": (b"\xff\xd8\xff\xc0" + struct.pack(">HBHHB", 11, 8, H, W, 1)
             + bytes([1, 0x11, 0]) + b"\xff\xd9"),
}


def test_budget_boundary():
    png.check_pixels(4096, 4096, "PNG")
    with pytest.raises(png.DecodeBudgetError, match="4097x4096"):
        png.check_pixels(W, H, "PNG")
    assert issubclass(png.DecodeBudgetError, ValueError)


def test_over_budget_png_stops_at_the_header():
    """A ~105 KB payload declaring 6000 x 6000 RGB used to inflate its
    IDAT and build float planes (an 825 MB peak); it now raises after
    the IHDR, allocating next to nothing."""
    payload = _zero_png(6000, 6000)
    assert len(payload) < 200_000
    tracemalloc.start()
    try:
        with pytest.raises(png.DecodeBudgetError, match="6000x6000"):
            png.decode_image_rgb(payload)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 4 << 20, peak


@pytest.mark.parametrize("fmt", sorted(HEADERS))
def test_over_budget_header_raises_before_allocating(fmt):
    with pytest.raises(png.DecodeBudgetError, match=f"{W}x{H}"):
        png.decode_image_rgb(HEADERS[fmt])


def test_over_budget_row_follows_on_error(spark):
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    rows = [("ok", "image", bytearray(png.encode_png(img)), 8, 8, None, None),
            ("big", "image", bytearray(HEADERS["gif"]), W, H, None, None)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA).coalesce(1)
    got = multimodal.image_decode_stats(media, on_error="skip").collect()
    assert [r.media_id for r in got] == ["ok"]
    with pytest.raises(Exception, match="media_id='big'.*decode budget"):
        multimodal.image_decode_stats(media).collect()


def _peak(fn, *args):
    tracemalloc.start()
    try:
        out = fn(*args)
        return out, tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_gif_decode_rgb_keeps_only_the_first_frame():
    """decode_image_rgb returns frame 0 and stops decoding there: an
    animation's peak stays that of its first frame. It used to composite
    and keep every frame (~4x the one-frame peak for these 24 frames)."""
    y, x = np.mgrid[0:300, 0:300]
    frames = [((x // 7 + y // 5 + i) % 200).astype(np.uint8)
              for i in range(24)]
    anim = gif.encode_gif(frames)
    first, one_peak = _peak(png.decode_image_rgb, gif.encode_gif(frames[0]))
    got, anim_peak = _peak(png.decode_image_rgb, anim)
    want = png.planes_from_uint8(gif.decode_gif(anim)["frames"][0])
    assert got.keys() == want.keys()
    for k in want:
        assert np.array_equal(got[k], want[k]), k
        assert np.array_equal(got[k], first[k]), k
    assert anim_peak < 1.25 * one_peak, (anim_peak, one_peak)


def test_gif_motion_decode_keeps_only_the_sampled_frames():
    """decode_sampled_frames composites an animation frame by frame and
    copies only the sampled frames, so its peak stays near n_sample + 2
    frames. It used to keep every composited frame (~15 frames' worth
    here)."""
    h, w, n, n_sample = 600, 800, 10, 4
    y = np.arange(h)[:, None] + np.zeros((1, w), dtype=int)
    anim = gif.encode_gif([((y // 25 + 7 * i) % 200).astype(np.uint8)
                           for i in range(n)])
    (got, n_total), peak = _peak(video.decode_sampled_frames, anim,
                                 n_sample)
    every = gif.decode_gif(anim)["frames"]
    assert n_total == n
    want = [every[i] for i in video.sample_indices(n, n_sample)]
    assert len(got) == len(want) == n_sample
    for a, b in zip(got, want):
        assert np.array_equal(a, b)
    assert peak < (n_sample + 2) * h * w * 3, peak / (h * w * 3)
