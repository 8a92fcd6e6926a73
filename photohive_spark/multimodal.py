"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInArrow`` stages —
every media operator runs the one decode loop in ``_media_stage``.

``mode="real"`` REALLY decodes images (PNG incl. Adam7/16-bit,
baseline+progressive JPEG, GIF and BMP, via the pure-stdlib codecs in
png.py / jpeg_decode.py / gif.py / bmp.py — no PIL needed), audio (PCM
WAV, via stdlib ``wave``) and video (MJPEG-in-AVI and animated GIF via
video.py — frame-sampled; other codecs raise ValueError naming the
codec, since H.264 etc. genuinely need libav, absent here). This module
reads no magic bytes: png.decode_pixels is the one still-image sniff and
video.decode_sampled_frames the one motion sniff, and
png.planes_from_uint8 turns either's pixels into float planes. The
default deterministic fake derives a pseudo sample plane from the bytes
(sha256-seeded) so plumbing tests are exact and
payload-format-independent.

Reference analog: the PIL ingest boundary ``pil_image_to_image_rgb``
(``utils.py:30-46``) — bytes -> normalized float plane -> feature kernels;
png.decode_image_rgb reproduces that contract bit-exactly for PNG inputs.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
import pyspark.sql.types as T

from .config import DEFAULT_CONFIG, EngineConfig

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("kind", T.StringType()),        # image | audio | video
    T.StructField("payload", T.BinaryType()),     # opaque encoded bytes
    T.StructField("meta_width", T.IntegerType()),
    T.StructField("meta_height", T.IntegerType()),
    T.StructField("meta_sample_rate", T.IntegerType()),
    T.StructField("meta_n_frames", T.IntegerType()),
])

MEDIA_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("rms_mean", T.DoubleType()),
    T.StructField("rms_std", T.DoubleType()),
    T.StructField("spectrum_bands", T.ArrayType(T.DoubleType())),
    T.StructField("sharpness_avg", T.DoubleType()),
])


def _fake_decode(payload: bytes, n_samples: int) -> np.ndarray:
    """Deterministic pseudo-decode: bytes -> float64 samples in [0,1].

    sha256-seeded xorshift stream — stable across runs/machines, so golden
    tests of the plumbing are exact."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.random(n_samples)


def decode_stub(payload: bytes, kind: str, meta: dict, mode: str = "fake"
                ) -> np.ndarray:
    if mode == "real":
        from . import png
        if kind == "audio":
            return png.decode_wav_samples(payload)
        from .kernels import rgb2pgm
        if kind == "image":
            frames = [png.decode_pixels(payload)]
        else:
            # video: frame-sampled; a still payload is a one-frame video
            from . import video
            frames, _ = video.decode_sampled_frames(
                payload, n_sample=int(meta.get("meta_n_frames") or 4))
        # each frame's BT.601 gray plane in [0,1], flattened and
        # concatenated — the reference ingest (utils.py:30-46 -> rgb2pgm)
        # as the 1-D sample stream the DSP kernels consume
        parts = []
        for px in frames:
            p = png.planes_from_uint8(px)
            parts.append(rgb2pgm(p["r"], p["g"], p["b"]).reshape(-1))
        return np.concatenate(parts)
    if kind == "image":
        n = int(meta.get("meta_width") or 64) * int(meta.get("meta_height") or 64)
    elif kind == "audio":
        n = int(meta.get("meta_sample_rate") or 8000)
    else:  # video: frame-sampled
        n = 256 * int(meta.get("meta_n_frames") or 4)
    return _fake_decode(payload, max(4, n))


def _media_stage(media: DataFrame, in_cols: list[str],
                 out_schema: T.StructType, decode, on_error: str,
                 row=None, rows=None) -> DataFrame:
    """The one decode loop behind every media operator, run as an
    arrow_stage over ``in_cols`` of ``media``.

    Per record batch, each row's payload (a null payload reads as b"")
    goes through ``decode(payload, ctx)``, where ``ctx`` maps the row's
    other input columns to their values (null ints arrive as None). A
    row whose decode raises is dropped under on_error='skip'; under
    'fail' the task fails naming the row's media_id (and kind, when the
    stage reads it). Output columns that are also input columns
    (media_id, kind, image_phash's passthrough) are carried from the
    kept input rows with their input types. The others, typed from
    ``out_schema``, come from the operator's body: either
    ``row(decoded) -> {column: value}``, run on each kept row right
    after its decode (without ``row`` the decoded value is that dict),
    or ``rows([decoded, ...]) -> {column: sequence}`` over the batch's
    kept rows at once."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', "
                         f"got {on_error!r}")
    from .arrow_stage import arrow_stage

    carry = [f.name for f in out_schema.fields if f.name in in_cols]
    computed = [f.name for f in out_schema.fields if f.name not in in_cols]
    ctx_cols = [c for c in in_cols if c != "payload"]

    def body(batch):
        ctx_vals = {c: batch.column(c).to_pylist() for c in ctx_cols}
        payloads = batch.column("payload")
        keep, done = [], []
        for i in range(batch.num_rows):
            ctx = {c: ctx_vals[c][i] for c in ctx_cols}
            try:
                x = decode(payloads[i].as_py() or b"", ctx)
            except Exception as e:
                if on_error == "skip":
                    continue
                # RuntimeError, not type(e): exception classes with
                # non-string constructors (UnicodeDecodeError etc.)
                # would crash the wrapper itself
                where = " ".join(f"{c}={ctx[c]!r}"
                                 for c in ("media_id", "kind") if c in ctx)
                raise RuntimeError(f"{where}: {e}") from e
            keep.append(i)
            # the row body runs before the next decode, so only one
            # row's decoded planes are alive at a time
            done.append(row(x) if row else x)
        out = rows(done) if rows else \
            {c: [d[c] for d in done] for c in computed}
        return keep, out

    return arrow_stage(media.select(*in_cols), out_schema, body, carry)


def media_features(media: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
                   mode: str = "fake",
                   on_error: str = "fail") -> DataFrame:
    """binary payload -> DSP features, Arrow-batched. Same no-shuffle map
    shape as engine.extract_features_df.

    Batch-vectorized: the (by-necessity per-row) decode fills a list of
    sample arrays, then rows are grouped by decoded length and each group
    runs as ONE stacked numpy computation (batch_kernels.signal_stats_batch).

    ``on_error``: 'fail' (default) raises naming the offending row;
    'skip' DROPS undecodable rows — the scraped-corpus production mode
    (at 10^12 rows corrupt payloads are a certainty, and one must not
    kill the job; count output vs input rows to monitor the drop rate).
    A null payload decodes as b"": a valid row under the deterministic
    fake, an undecodable one under mode='real'."""

    def stats(xs: list) -> dict:
        from .batch_kernels import length_groups, signal_stats_batch
        n = len(xs)
        out = {"n_samples": np.array([len(x) for x in xs], dtype=np.int32),
               "rms_mean": np.zeros(n), "rms_std": np.zeros(n),
               "sharpness_avg": np.zeros(n),
               "spectrum_bands": np.zeros((n, cfg.radius_parts))}
        for idxs in length_groups(xs).values():
            st = signal_stats_batch(np.stack([xs[i] for i in idxs]), cfg)
            for c in ("rms_mean", "rms_std", "sharpness_avg",
                      "spectrum_bands"):
                out[c][idxs] = st[c]
        out["spectrum_bands"] = list(out["spectrum_bands"])
        return out

    return _media_stage(
        media, [f.name for f in MEDIA_SCHEMA.fields], MEDIA_FEATURE_SCHEMA,
        lambda payload, ctx: decode_stub(payload, ctx["kind"], ctx, mode),
        on_error, rows=stats)


IMAGE_DECODE_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("pixel_sum", T.LongType()),
    T.StructField("rms_mean", T.DoubleType()),
    T.StructField("rms_std", T.DoubleType()),
    T.StructField("mean_sat", T.DoubleType()),
    T.StructField("mean_val", T.DoubleType()),
])


def image_decode_stats(media: DataFrame,
                       on_error: str = "fail") -> DataFrame:
    """REAL image decode -> SQL-expressible per-image statistics: the
    exact integer pixel checksum sum(r+g+b) (any decode defect breaks it
    bit-for-bit), BT.601 gray mean/std (``get_rgb_statistics``,
    ``src/image_processing.c:543-553``) and mean HSV saturation/value
    with the reference's MAX_SATURATION/MAX_VALUE clamps
    (``src/image_processing.c:372-417``).

    ``on_error='skip'`` drops undecodable rows (scraped-corpus mode).

    This is the driver-oracle-checkable face of the real decode path:
    for losslessly-encoded payloads (PNG, any profile) the decoded
    planes equal the generator formula, so a DuckDB oracle can recompute
    every output from first principles — pinning decode -> kernel math
    in the correctness gate, not just in pytest. Same Arrow-batched
    no-shuffle mapInArrow shape as image_report."""
    from . import kernels as K
    from . import png

    def stats(p: dict) -> dict:
        r, g, b = p["r"], p["g"], p["b"]
        ints = (np.rint(r * 255) + np.rint(g * 255)
                + np.rint(b * 255)).astype(np.int64)
        gray = K.rgb2pgm(r, g, b).reshape(-1)
        rms_mean, rms_std = K.rms_stats(gray)
        _, s, v = K.rgb2hsv(r.reshape(-1), g.reshape(-1), b.reshape(-1))
        return {
            "height": int(p["height"]),
            "width": int(p["width"]),
            "pixel_sum": int(ints.sum()),
            "rms_mean": rms_mean,
            "rms_std": rms_std,
            "mean_sat": float(s.mean()) if s.size else 0.0,
            "mean_val": float(v.mean()) if v.size else 0.0,
        }

    return _media_stage(
        media, ["media_id", "payload"], IMAGE_DECODE_STATS_SCHEMA,
        lambda payload, ctx: png.decode_image_rgb(payload), on_error,
        row=stats)


PHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
])


def image_phash(media: DataFrame, mode: str = "real",
                on_error: str = "fail",
                passthrough: tuple[str, ...] = ()) -> DataFrame:
    """REAL decode -> 64-bit perceptual hash per image
    (kernels.phash_plane: 32x32 area-resize -> DCT -> median-threshold
    low-frequency block). THE image-dedup signature for training
    corpora: re-encodes, resizes and small edits land within a few
    hamming bits, so ``dedup.hamming_pairs(df, "phash", ..., bits=64)`` finds
    visual near-duplicates with pigeonhole banding — never all-pairs,
    the same 10^12-row shape as the text SimHash path. Arrow-batched
    no-shuffle mapInArrow like the other image operators;
    ``on_error='skip'`` drops undecodable rows (scraped-corpus mode).
    ``passthrough`` names extra input columns copied verbatim onto the
    output rows (keeping their input types) — e.g. an ingest-time
    column so a streaming consumer can watermark the hashed stream."""
    from . import kernels as K

    in_fields = {f.name: f for f in media.schema.fields}
    for c in passthrough:
        if c in {f.name for f in PHASH_SCHEMA.fields}:
            raise ValueError(f"passthrough column {c!r} collides with a "
                             "PHASH_SCHEMA output column")
        if c not in in_fields:
            raise ValueError(f"passthrough column {c!r} not in input")
    out_schema = T.StructType(list(PHASH_SCHEMA.fields)
                              + [in_fields[c] for c in passthrough])

    def phash(planes) -> dict:
        gray = K.rgb2pgm(*planes)
        return {"phash": K.phash_plane(gray),
                "height": int(gray.shape[0]), "width": int(gray.shape[1])}

    cols = [f.name for f in MEDIA_SCHEMA.fields] if mode != "real" \
        else ["media_id", "payload"]
    cols = cols + [c for c in passthrough if c not in cols]
    return _media_stage(
        media, cols, out_schema,
        lambda payload, ctx: _image_planes(payload, ctx, mode), on_error,
        row=phash)


IMAGE_REPORT_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("rms_mean", T.DoubleType()),
    T.StructField("rms_std", T.DoubleType()),
    T.StructField("mean_norm_value", T.DoubleType()),
    T.StructField("hist_entropy", T.DoubleType()),
    T.StructField("palette", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("spectral_peaks", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("sharpness_avg", T.DoubleType()),
    T.StructField("sharpness_var", T.DoubleType()),
])


def _image_planes(payload, meta, mode: str):
    """bytes -> (r, g, b) float planes in [0,1]. Real mode decodes any
    still png.decode_pixels sniffs (PNG, JPEG, GIF's first frame, BMP)
    via png.decode_image_rgb (the reference ingest, utils.py:30-46);
    fake mode reshapes the deterministic pseudo-decode into a meta-sized
    plane so the full 2-D pipeline is drivable without codecs."""
    if mode == "real":
        from . import png
        p = png.decode_image_rgb(payload)
        return p["r"], p["g"], p["b"]
    w = int(meta.get("meta_width") or 64)
    h = int(meta.get("meta_height") or 64)
    x = _fake_decode(payload, max(4, w * h))[: h * w].reshape(h, w)
    return x, x, x


def report_image_arrays(r: np.ndarray, g: np.ndarray, b: np.ndarray,
                        cfg: EngineConfig = DEFAULT_CONFIG) -> dict:
    """The per-image report body on decoded float planes — the literal
    ``get_full_report_data`` stage order (``src/interface.c:28-93``).
    Split out of image_report so the decode and kernel stages can be
    timed independently (bench.py --images) and reused outside Spark."""
    from . import kernels as K

    gray = K.rgb2pgm(r, g, b)
    rms_mean, rms_std = K.rms_stats(gray.reshape(-1))
    # DC bias of the blur profile is the UNWEIGHTED average of the three
    # full-res channel means (interface.c:78-79: avg = (Br+Bg+Bb)/3),
    # not the BT.601 gray mean — for colored images the two differ
    dc_bias = (float(r.mean()) + float(g.mean()) + float(b.mean())) / 3.0
    # downsample_rgb (image_processing.c:344) subsamples the 2-D grid
    # NxN with floor'd output dims (h//N x w//N)
    rate = cfg.downsample_rate
    nh, nw = r.shape[0] // rate, r.shape[1] // rate
    rd = r[:nh * rate:rate, :nw * rate:rate].reshape(-1)
    gd = g[:nh * rate:rate, :nw * rate:rate].reshape(-1)
    bd = b[:nh * rate:rate, :nw * rate:rate].reshape(-1)
    h, s, v = K.rgb2hsv(rd, gd, bd)
    gi = (K.hist_bin_ids(h, s, v, cfg) if h.size
          else np.array([], dtype=np.int64))
    counts = np.bincount(gi, minlength=cfg.hist_cells).astype(np.int64)
    pal = K.palette(h, s, v, cfg, g=gi, counts=counts)
    prof = K.blur_profile_plane(gray, cfg, dc_bias=dc_bias)
    peaks = K.spectral_peaks(prof, cfg)
    return {
        "height": int(gray.shape[0]),
        "width": int(gray.shape[1]),
        "rms_mean": rms_mean,
        "rms_std": rms_std,
        "mean_norm_value": float(s.mean()) if s.size else 0.0,
        "hist_entropy": K.entropy(counts),
        "palette": [[float(c) for c in row] for row in pal],
        "spectral_peaks": [[float(a), float(m)] for a, m in peaks],
        "sharpness_avg": K.sharpness_plane_avg(gray, cfg),
        "sharpness_var": K.sharpness_plane_var(gray),
    }


def image_report(media: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
                 mode: str = "real",
                 on_error: str = "fail") -> DataFrame:
    """The reference's PRIMARY use case as a Spark operator: image ->
    full report (``get_full_report_data``, ``src/interface.c:28-93``) on
    REAL 2-D planes — color statistics, histogram entropy, palette,
    polar blur profile -> spectral peaks, 3x3-Laplacian sharpness —
    distributed over an opaque-binary media column.

    Stage order mirrors the reference: downsample (2-D NxN subsample with
    floor'd dims, ``src/image_processing.c:344``) feeds ONLY the
    HSV/histogram/palette path (``src/interface.c:39-50``); RMS stats and
    the FFT run on the full-resolution gray plane with DC bias =
    (Br+Bg+Bb)/3, the average of the full-res channel means
    (``src/interface.c:78-79``). Per-image cost is dominated
    by the rfft2 — inherently per-row work (images vary in size), Arrow-
    batched at the boundary like media_features; no shuffle anywhere.
    ``on_error='skip'`` drops undecodable rows (scraped-corpus mode)."""
    return _media_stage(
        media, [f.name for f in MEDIA_SCHEMA.fields], IMAGE_REPORT_SCHEMA,
        lambda payload, ctx: _image_planes(payload, ctx, mode), on_error,
        row=lambda planes: report_image_arrays(*planes, cfg))


_MEDIA_REPORT_NUMERIC = ("rms_mean", "rms_std", "mean_norm_value",
                         "hist_entropy", "sharpness_avg", "sharpness_var")

MEDIA_REPORT_SCHEMA = T.StructType(
    [T.StructField("media_id", T.StringType()),
     T.StructField("media_kind", T.StringType()),     # image | video
     T.StructField("n_frames", T.IntegerType()),
     T.StructField("n_sampled", T.IntegerType()),
     T.StructField("height", T.IntegerType()),
     T.StructField("width", T.IntegerType())]
    + [T.StructField(f"{name}_{agg}", T.DoubleType())
       for name in _MEDIA_REPORT_NUMERIC for agg in ("mean", "max")])


def media_report_row(payload: bytes, cfg: EngineConfig = DEFAULT_CONFIG,
                     n_sample: int = 4) -> dict:
    """One media payload -> per-MEDIA report: still images run the full
    image-report DAG once; motion media (animated GIF, MJPEG-AVI video)
    runs it on ``n_sample`` evenly-spaced frames and aggregates each
    numeric feature across frames as mean and max (a still image is the
    1-frame special case, so <feat>_mean == <feat>_max == the image
    report's value). Split out of media_report for direct parity tests
    against per-frame report_image_arrays."""
    from . import png
    from . import video

    frames, n_total = video.decode_sampled_frames(bytes(payload), n_sample)
    reps = []
    for px in frames:
        # one frame's float planes at a time: report, then convert the next
        p = png.planes_from_uint8(px)
        reps.append(report_image_arrays(p["r"], p["g"], p["b"], cfg))
    kind = "video" if n_total > 1 else "image"
    row = {"media_kind": kind, "n_frames": int(n_total),
           "n_sampled": len(reps),
           "height": reps[0]["height"], "width": reps[0]["width"]}
    for name in _MEDIA_REPORT_NUMERIC:
        vals = [rep[name] for rep in reps]
        row[f"{name}_mean"] = round(float(np.mean(vals)), 6)
        row[f"{name}_max"] = round(float(np.max(vals)), 6)
    return row


def media_report(media: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG,
                 n_sample: int = 4, on_error: str = "fail") -> DataFrame:
    """Unified per-MEDIA report across the whole web-ingest matrix: one
    output row per media row whether the payload is a still image (PNG /
    JPEG / GIF / BMP) or motion media (animated GIF, MJPEG-AVI), with
    numeric report features aggregated mean/max over ``n_sample``
    evenly-spaced frames (see media_report_row). Same shuffle-free
    Arrow-batched mapInArrow shape as image_report; scalar-only output
    columns, so the row is driver-canonicalizer-safe. ``on_error='skip'``
    drops undecodable rows (scraped-corpus mode)."""
    return _media_stage(
        media, ["media_id", "payload"], MEDIA_REPORT_SCHEMA,
        lambda payload, ctx: media_report_row(payload, cfg, n_sample),
        on_error)
