"""MJPEG-in-AVI video ingest: container round-trip, frame sampling,
loud failure on foreign codecs, and the Spark media pipeline end-to-end
(kind='video', mode='real')."""

import numpy as np
import pytest

from photohive_spark import multimodal, video


def _frames(n=6, h=24, w=32, seed=0):
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    return [np.clip(base.astype(int) + 20 * i, 0, 255).astype(np.uint8)
            for i in range(n)]


def test_avi_roundtrip_metadata_and_frames():
    frames = _frames()
    data = video.encode_avi_mjpeg(frames, fps=8.0, quality=95)
    meta = video.parse_avi(data)
    assert (meta["width"], meta["height"]) == (32, 24)
    assert meta["n_frames"] == 6 and len(meta["frames"]) == 6
    assert meta["fps"] == pytest.approx(8.0, rel=1e-4)
    decoded = video.decode_sampled_frames(data)[0]
    assert len(decoded) == 6
    for orig, got in zip(frames, decoded):
        assert got.shape == orig.shape
        err = got.astype(float) - orig.astype(float)
        psnr = 10 * np.log10(255.0 ** 2 / (err ** 2).mean())
        assert psnr >= 30.0


def test_frame_sampling():
    data = video.encode_avi_mjpeg(_frames(n=9))
    assert video.sample_indices(9, 3) == [0, 4, 8]
    assert video.sample_indices(9, 1) == [0]
    assert video.sample_indices(2, 5) == [0, 1]
    assert len(video.decode_sampled_frames(data, n_sample=3)[0]) == 3
    # gray sample stream: 3 frames x 24x32 pixels, values in [0,1]
    x = multimodal.decode_stub(data, "video", {"meta_n_frames": 3},
                               mode="real")
    assert x.shape == (3 * 24 * 32,)
    assert 0.0 <= x.min() and x.max() <= 1.0


def test_foreign_codec_and_garbage_fail_loudly():
    with pytest.raises(ValueError, match="RIFF"):
        video.parse_avi(b"not an avi at all")
    data = bytearray(video.encode_avi_mjpeg(_frames(n=2)))
    at = bytes(data).index(b"vids") + 4
    data[at:at + 4] = b"H264"                 # fake codec fourcc
    at2 = bytes(data).index(b"MJPG", at + 4)  # strf biCompression
    data[at2:at2 + 4] = b"H264"
    with pytest.raises(ValueError, match="H264"):
        video.parse_avi(bytes(data))


def test_video_through_spark_media_features(spark):
    """kind='video' payloads run the REAL frame-sampled decode inside
    media_features — per-row values equal the locally computed kernel
    stats on the same sample stream."""
    from photohive_spark import kernels as K

    data = video.encode_avi_mjpeg(_frames(n=5), fps=5.0)
    rows = [("v0", "video", bytearray(data), None, None, None, 3)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feat = multimodal.media_features(media, mode="real").collect()[0]
    x = multimodal.decode_stub(data, "video", {"meta_n_frames": 3},
                               mode="real")
    mean, std = K.rms_stats(x)
    assert feat.n_samples == len(x)
    assert feat.rms_mean == pytest.approx(mean, rel=1e-12)
    assert feat.rms_std == pytest.approx(std, rel=1e-12)


def test_animated_gif_as_video(spark):
    """Animated GIFs ride the same frame-sampled video contract as
    MJPEG-AVI (kind='video', mode='real')."""
    from photohive_spark import gif
    from photohive_spark import kernels as K

    rng = np.random.default_rng(12)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    frames = [rng.integers(0, 8, (10, 14), dtype=np.uint8)
              for _ in range(6)]
    data = gif.encode_gif(frames, palette=pal)
    decoded = video.decode_sampled_frames(data, n_sample=3)[0]
    assert len(decoded) == 3 and decoded[0].shape == (10, 14, 3)
    x = multimodal.decode_stub(data, "video", {"meta_n_frames": 3},
                               mode="real")
    assert x.shape == (3 * 10 * 14,)

    rows = [("gv", "video", bytearray(data), None, None, None, 3)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feat = multimodal.media_features(media, mode="real").collect()[0]
    assert feat.n_samples == len(x)
    assert feat.rms_mean == pytest.approx(K.rms_stats(x)[0], rel=1e-12)


def test_rec_list_interleaved_avi():
    """Canonical interleaved AVIs wrap frame chunks in nested 'rec '
    LISTs — the parser must recurse and find every frame."""
    frames = _frames(n=4)
    plain = video.decode_sampled_frames(video.encode_avi_mjpeg(frames))[0]
    rec = video.decode_sampled_frames(
        video.encode_avi_mjpeg(frames, rec_lists=True))[0]
    assert len(rec) == 4
    for a, b in zip(plain, rec):
        np.testing.assert_array_equal(a, b)


def test_still_payload_on_a_video_row_is_one_frame():
    """A still image on a kind='video' row decodes as a one-frame video
    (as media_report treats stills), not as a failed AVI parse."""
    from photohive_spark import png

    img = _frames(n=1)[0]
    for data in (png.encode_png(img), png.encode_png(img[:, :, 0])):
        frames, n_total = video.decode_sampled_frames(data, 4)
        assert n_total == 1 and len(frames) == 1
        np.testing.assert_array_equal(frames[0], png.decode_pixels(data))
        np.testing.assert_array_equal(
            multimodal.decode_stub(data, "video", {}, mode="real"),
            multimodal.decode_stub(data, "image", {}, mode="real"))


def test_riff_forms_other_than_avi_are_named():
    with pytest.raises(ValueError, match="'WEBP'"):
        video.decode_sampled_frames(b"RIFF\x04\x00\x00\x00WEBP", 4)
