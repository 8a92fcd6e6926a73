"""Pure-numpy DSP feature kernels (Spark-free, unit-testable).

These are the 1-D recasts of the reference's per-image feature extractors
(Joseph-93/PhotoHive_DSP), applied to a token sequence ``t[0..n)`` of int32
in ``[0, VOCAB_SIZE)``.  Each kernel cites the reference function whose math
it replicates.  Where the reference has genuine UB or a quirk, the choice
made here is documented inline and is canonical for our goldens
(SURVEY.md §7 "Hard parts").

Everything here is vectorized numpy — these run inside Arrow-batched
``mapInArrow`` workers, one call per document, no per-row Python at the
Spark level.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from .config import DEFAULT_CONFIG, HUE_MOD, SAT_MOD, VOCAB_SIZE, EngineConfig


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def newton_int_sqrt(val: np.ndarray) -> np.ndarray:
    """Integer sqrt by Newton iteration, stop at |delta|<1, truncate.

    Replicates reference ``src/utilities.c:43-52`` exactly (NOT equivalent to
    ``int(np.sqrt(v))`` near integer boundaries — the iteration converges from
    above, so e.g. values just below a perfect square may round differently).
    Vectorized over an array of non-negative doubles.
    """
    val = np.asarray(val, dtype=np.float64)
    x = val.copy()
    out = np.zeros(val.shape, dtype=np.int64)
    nz = val > 0
    if not nz.any():
        return out
    # first iteration (C computes s then tests)
    s = np.where(nz, 0.5 * (x + np.divide(val, x, out=np.ones_like(x), where=x != 0)), 0.0)
    active = nz & (np.abs(s - x) >= 1)
    while active.any():
        x = np.where(active, s, x)
        s = np.where(active, 0.5 * (x + np.divide(val, x, out=np.ones_like(x), where=x != 0)), s)
        active = active & (np.abs(s - x) >= 1)
    out[nz] = s[nz].astype(np.int64)
    return out


def derive_hsv(tokens: np.ndarray, vocab: int = VOCAB_SIZE):
    """Deterministic token -> pseudo-(h, s, v) embedding.

    Canonical 1-D recast of the reference's per-pixel HSV channels
    (``rgb2hsv``, ``src/image_processing.c:372-417``): h in [0,360),
    s, v in [0,1).  The moduli are primes so the three channels decorrelate.
    By construction h<360 and s,v<1, so the reference's MAX_SATURATION /
    MAX_VALUE clamps (``src/image_processing.c:8-9``) are structurally
    satisfied.
    """
    t = np.asarray(tokens, dtype=np.int64)
    h = 360.0 * (t % HUE_MOD) / float(HUE_MOD)
    s = (t % SAT_MOD) / float(SAT_MOD)
    v = t / float(vocab)
    return h, s, v


def convolve_circular(x: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Circular 1-D convolution scaled by 1/len(h).

    Replicates ``convolve_1d`` (``src/filtering.c:12-24``):
    ``result[i] = sum_j x[(i-j+n) % n] * h[j] / h_len``.
    """
    x = np.asarray(x, dtype=np.float64)
    h = np.asarray(h, dtype=np.float64)
    n, k = len(x), len(h)
    if n >= k - 1 and k > 1:
        # wrap-pad + 'valid' convolve == sum_j x[(i-j) % n] * h[j], O(n*k)
        # without the O(n*k) index-matrix memory traffic
        pad = np.concatenate([x[-(k - 1):], x])
        return np.convolve(pad, h, mode="valid") / k
    idx = (np.arange(n)[:, None] - np.arange(k)[None, :]) % n
    return (x[idx] * h[None, :]).sum(axis=1) / k


def filter_same_zeropad(x: np.ndarray, kern: np.ndarray) -> np.ndarray:
    """1-D 'same' correlation with zero-padded boundaries.

    Replicates ``filter_image`` boundary semantics (``src/filtering.c:81-107``):
    out-of-range taps are skipped (== zero padding); correlation orientation
    (no kernel flip), center at len(kern)//2.
    """
    x = np.asarray(x, dtype=np.float64)
    kern = np.asarray(kern, dtype=np.float64)
    k = len(kern)
    off = k // 2
    out = np.zeros_like(x)
    n = len(x)
    for j in range(k):
        shift = j - off
        lo, hi = max(0, -shift), min(n, n - shift)
        out[lo:hi] += kern[j] * x[lo + shift:hi + shift]
    return out


MAX_SATURATION = 0.999999  # src/image_processing.c:8
MAX_VALUE = 0.999999       # src/image_processing.c:9


def rgb2hsv(r: np.ndarray, g: np.ndarray, b: np.ndarray):
    """Per-sample RGB->HSV channel map — ``rgb2hsv``
    (``src/image_processing.c:372-417``): textbook max/min/delta conversion,
    hue wrapped to [0,360), S and V clamped to 0.999999 via MAX_SATURATION /
    MAX_VALUE (``src/image_processing.c:408-414``). Inputs in [0,1].
    Used by the multimodal image path; vectorized over whole planes."""
    r = np.asarray(r, dtype=np.float64)
    g = np.asarray(g, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    mx = np.maximum(np.maximum(r, g), b)
    mn = np.minimum(np.minimum(r, g), b)
    delta = mx - mn
    nz = delta > 0
    r_is = nz & (mx == r)
    g_is = nz & (mx == g) & ~r_is
    b_is = nz & (mx == b) & ~r_is & ~g_is
    # full-plane arithmetic + np.where instead of masked gather/scatter
    # (the six boolean fancy-index ops dominated this kernel); the
    # branch divisions are the same elementwise ops on the selected
    # lanes, so results are bit-identical — junk lanes (delta == 0 ->
    # inf/nan) are discarded by the where chain
    with np.errstate(invalid="ignore", divide="ignore"):
        hr = 60.0 * np.mod((g - b) / delta, 6.0)
        hg = 60.0 * ((b - r) / delta + 2.0)
        hb = 60.0 * ((r - g) / delta + 4.0)
        h = np.where(r_is, hr,
                     np.where(g_is, hg, np.where(b_is, hb, 0.0)))
        h = np.mod(h, 360.0)
        s = np.where(mx > 0, delta / mx, 0.0)
    s = np.minimum(s, MAX_SATURATION)
    v = np.minimum(mx, MAX_VALUE)
    return h, s, v


def hsv2rgb(h: np.ndarray, s: np.ndarray, v: np.ndarray):
    """Inverse map (chroma/x/m formulation) — ``hsv2rgb``
    (``src/image_processing.c:423-468``)."""
    h = np.asarray(h, dtype=np.float64)
    s = np.asarray(s, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    c = v * s
    hp = np.mod(h, 360.0) / 60.0
    x = c * (1.0 - np.abs(np.mod(hp, 2.0) - 1.0))
    m = v - c
    sector = np.clip(hp.astype(np.int64), 0, 5)
    z = np.zeros_like(c)
    r = np.choose(sector, [c, x, z, z, x, c])
    g = np.choose(sector, [x, c, c, x, z, z])
    b = np.choose(sector, [z, z, x, c, c, x])
    return r + m, g + m, b + m


def rgb2pgm(r: np.ndarray, g: np.ndarray, b: np.ndarray) -> np.ndarray:
    """BT.601 luma projection — ``rgb2pgm``
    (``src/image_processing.c:505-512``): 0.299r + 0.587g + 0.114b."""
    return (0.299 * np.asarray(r, dtype=np.float64)
            + 0.587 * np.asarray(g, dtype=np.float64)
            + 0.114 * np.asarray(b, dtype=np.float64))


def pgm2rgb(p: np.ndarray):
    """Broadcast 1->3 channels — ``pgm2rgb`` (``src/image_processing.c:515-524``)."""
    p = np.asarray(p, dtype=np.float64)
    return p.copy(), p.copy(), p.copy()


# ---------------------------------------------------------------------------
# simple aggregates
# ---------------------------------------------------------------------------

def rms_stats(x: np.ndarray) -> tuple[float, float]:
    """Mean + population stddev — ``get_rgb_statistics`` analog
    (``src/image_processing.c:543-553``: brightness=mean, contrast=sqrt(var))."""
    x = np.asarray(x, dtype=np.float64)
    if x.size == 0:
        return 0.0, 0.0
    return float(x.mean()), float(np.sqrt(np.var(x)))


def entropy(counts: np.ndarray) -> float:
    """Shannon entropy (nats) over a histogram (north_star addition)."""
    counts = np.asarray(counts, dtype=np.float64)
    total = counts.sum()
    if total <= 0:
        return 0.0
    p = counts[counts > 0] / total
    return float(-(p * np.log(p)).sum())


# ---------------------------------------------------------------------------
# histogram / palette family (arm_octree + find_valid_parents +
# group_irregular_pixels + calculate_avg_hsv)
# ---------------------------------------------------------------------------

def hist_bin_ids(h, s, v, cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Cell id per sample, replicating ``arm_octree``
    (``src/color_quantization.c:108-161``) exactly, including the gray-branch
    quirk: ``Vi=(int)(v-black)*num_grays/(1-black)`` casts (v-black) to int
    FIRST, so Vi==0 for all v<1+black and every gray sample lands in gray
    cell 0.  Cell layout: colors [0, h*s*v), grays [h*s*v, h*s*v+num_grays),
    black = last (``initialize_octree``, ``src/color_quantization.c:39-103``).
    """
    h = np.asarray(h, dtype=np.float64)
    s = np.asarray(s, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    total = cfg.hist_cells
    gray_start = total - (cfg.num_grays + 1)
    g = np.empty(h.shape, dtype=np.int64)

    black = v < cfg.black_thresh
    gray = (~black) & (s < cfg.gray_thresh)
    color = ~(black | gray)

    g[black] = total - 1
    # quirk: (int)(v - black_thresh) == 0 for v in [black_thresh, 1)
    vi_gray = (np.trunc(v[gray] - cfg.black_thresh).astype(np.int64)
               * cfg.num_grays / (1.0 - cfg.black_thresh)).astype(np.int64)
    g[gray] = gray_start + vi_gray
    Vi = ((v[color] - cfg.black_thresh) / cfg.Lv).astype(np.int64)
    Si = ((s[color] - cfg.gray_thresh) / cfg.Ls).astype(np.int64)
    # CANONICAL DEVIATION: when h_parts does not divide 360, Lh=360//h_parts
    # leaves a remainder band h in [Lh*h_parts, 360) whose Hi would overflow
    # (out-of-bounds UB in the reference C too; its default 18 divides 360).
    # We clamp that band into the last hue bin.
    Hi = np.minimum((h[color] / cfg.Lh).astype(np.int64), cfg.h_parts - 1)
    g[color] = (Hi * cfg.s_parts + Si) * cfg.v_parts + Vi
    return g


def token_histogram(h, s, v, cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Fixed-width cell counts (len == cfg.hist_cells == 112 at defaults)."""
    g = hist_bin_ids(h, s, v, cfg)
    return np.bincount(g, minlength=cfg.hist_cells).astype(np.int64)


@lru_cache(maxsize=8)
def cell_nominals(cfg: EngineConfig = DEFAULT_CONFIG):
    """Nominal (h, s, v) centers per cell — ``initialize_octree``
    (``src/color_quantization.c:60-102``).  NOTE ``half_h = Lh/2`` is C int
    division (Lh is int), replicated with ``//``."""
    total = cfg.hist_cells
    nh = np.zeros(total)
    ns = np.zeros(total)
    nv = np.zeros(total)
    half_h = cfg.Lh // 2
    s_offs = cfg.Ls / 2 + cfg.gray_thresh
    v_offs = cfg.Lv / 2 + cfg.black_thresh
    for hi in range(cfg.h_parts):
        for si in range(cfg.s_parts):
            for vi in range(cfg.v_parts):
                i = hi * cfg.s_parts * cfg.v_parts + si * cfg.v_parts + vi
                nh[i] = hi * cfg.Lh + half_h
                ns[i] = si * cfg.Ls + s_offs
                nv[i] = vi * cfg.Lv + v_offs
    l_gray = (1.0 - cfg.black_thresh) / cfg.num_grays
    gray_start = total - (cfg.num_grays + 1)
    for j in range(cfg.num_grays):
        nv[gray_start + j] = l_gray * j + v_offs
    # black cell: all zeros (already)
    return nh, ns, nv


def saliency_scores(counts: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """``saliency`` heuristic (``src/color_quantization.c:588-595``):
    quantity * (qw + svw * s_nom * v_nom) * 1000, on cell nominal centers."""
    nh, ns, nv = cell_nominals(cfg)
    return counts * (cfg.quantity_weight + cfg.saturation_value_weight * ns * nv) * 1000.0


def find_valid_parents(counts: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Top-k-by-coverage parent cells — ``find_valid_octree_parents``
    (``src/color_quantization.c:174-203``): sort by saliency desc, take the
    shortest prefix whose cumulative count reaches ``int(total*coverage)``.

    CANONICAL DEVIATION: the reference's comparator truncates the float
    saliency difference to int (``src/color_quantization.c:609``) under a
    stable insertion sort, so near-equal saliencies keep id order; we order
    by (saliency desc, id asc) deterministically instead.
    """
    sal = saliency_scores(counts, cfg)
    order = np.lexsort((np.arange(len(sal)), -sal))
    total = int(counts.sum())
    if total == 0:
        return np.array([], dtype=np.int64)
    # CANONICAL DEVIATION: goal floored at 1 so tiny inputs (total*coverage
    # < 1, impossible in the reference thanks to its 350x350 minimum,
    # src/utilities.c:69) still select at least one parent.
    goal = max(1, int(total * cfg.coverage_thresh))
    cum = np.cumsum(counts[order])
    cum_prev = cum - counts[order]
    keep = cum_prev < goal
    return order[keep].astype(np.int64)


def node_distance(group_id: int, parent_id: int, nominals, cfg: EngineConfig) -> float:
    """Bin<->parent distance — ``get_node_distance_heuristic``
    (``src/color_quantization.c:253-288``): hue circular (wrap>180), h/360
    normalized; gray<->color uses s,v only; gray/black<->gray/black v only."""
    nh, ns, nv = nominals
    total = cfg.hist_cells
    gray_start = total - (cfg.num_grays + 1)
    black_id = total - 1
    g_color = group_id < gray_start
    p_color = parent_id < gray_start
    g_gray = gray_start <= group_id < black_id
    p_gray = gray_start <= parent_id < black_id
    if g_color and p_color:
        hd = abs(nh[group_id] - nh[parent_id])
        if hd > 180:
            hd = 360 - hd
        hd /= 360.0
        sd = ns[group_id] - ns[parent_id]
        vd = nv[group_id] - nv[parent_id]
        return hd * hd + sd * sd + vd * vd
    if (g_gray and p_color) or (p_gray and g_color):
        sd = ns[group_id] - ns[parent_id]
        vd = nv[group_id] - nv[parent_id]
        return sd * sd + vd * vd
    vd = nv[group_id] - nv[parent_id]
    return vd * vd


@lru_cache(maxsize=8)
def _distance_matrix(cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """All-pairs cell<->cell node distances (vectorized
    ``get_node_distance_heuristic``); small (112x112 at defaults), cached
    per config — the analog of the reference's precomputed lookup tables
    (``src/blur_profile.c:19-23``)."""
    nh, ns, nv = cell_nominals(cfg)
    total = cfg.hist_cells
    gray_start = total - (cfg.num_grays + 1)
    black_id = total - 1
    is_color = np.arange(total) < gray_start
    is_gray = (np.arange(total) >= gray_start) & (np.arange(total) < black_id)

    hd = np.abs(nh[:, None] - nh[None, :])
    hd = np.where(hd > 180, 360 - hd, hd) / 360.0
    sd = ns[:, None] - ns[None, :]
    vd = nv[:, None] - nv[None, :]
    full = hd * hd + sd * sd + vd * vd
    sv = sd * sd + vd * vd
    vv = vd * vd

    both_color = is_color[:, None] & is_color[None, :]
    mixed = ((is_gray[:, None] & is_color[None, :])
             | (is_gray[None, :] & is_color[:, None]))
    return np.where(both_color, full, np.where(mixed, sv, vv))


def assign_parents(counts: np.ndarray, parents: np.ndarray,
                   cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """cell -> parent-cell assignment — ``group_irregular_pixels``
    (``src/color_quantization.c:342-479``): each non-parent cell with
    quantity>0 relinks to its nearest valid parent (broadcast
    nested-loop-join + argmin shape).

    CANONICAL DEVIATION: on distance ties the reference falls into a
    per-pixel path whose distance function is missing its return statement
    (UB, ``src/color_quantization.c:303-311``); we assign the whole cell to
    the tied parent appearing FIRST in valid_parents (saliency) order —
    np.argmin's first-occurrence rule over the parents axis.
    """
    assign = np.full(cfg.hist_cells, -1, dtype=np.int64)
    assign[parents] = parents
    dmat = _distance_matrix(cfg)[:, parents]       # (cells, n_parents)
    nearest = parents[np.argmin(dmat, axis=1)]     # first-occurrence ties
    todo = (counts > 0) & (assign < 0)
    assign[todo] = nearest[todo]
    return assign


def palette(h, s, v, cfg: EngineConfig = DEFAULT_CONFIG,
            g: np.ndarray | None = None,
            counts: np.ndarray | None = None) -> list[tuple[float, float, float, float]]:
    """Color-palette analog: histogram -> coverage top-k parents -> nearest
    parent reassign -> per-parent averages with the reference's
    offset-to-180 circular hue mean (``calculate_avg_hsv``,
    ``src/color_quantization.c:510-576``), percentages over ALL samples.

    Returns [(h_avg, s_avg, v_avg, pct)] in valid_parents (saliency) order.
    """
    h = np.asarray(h, dtype=np.float64)
    s = np.asarray(s, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    n = h.size
    if n == 0:
        return []
    if g is None:
        g = hist_bin_ids(h, s, v, cfg)
    if counts is None:
        counts = np.bincount(g, minlength=cfg.hist_cells).astype(np.int64)
    parents = find_valid_parents(counts, cfg)
    if len(parents) == 0:
        return []
    assign = assign_parents(counts, parents, cfg)
    parent_of_tok = assign[g]

    nh, _, _ = cell_nominals(cfg)
    # vectorized grouped means: map parent cell id -> dense rank, then one
    # bincount pass per aggregate (the distributed two-stage-agg shape)
    rank_of_cell = np.full(cfg.hist_cells, -1, dtype=np.int64)
    rank_of_cell[parents] = np.arange(len(parents))
    ranks = rank_of_cell[parent_of_tok]
    np_par = len(parents)
    cnts = np.bincount(ranks, minlength=np_par).astype(np.float64)
    offsets = 180.0 - nh[parents]
    tmp = h + offsets[ranks]
    tmp = np.where(tmp > 360.0, tmp - 360.0, tmp)
    tmp = np.where(tmp < 0.0, tmp + 360.0, tmp)
    sum_h = np.bincount(ranks, weights=tmp, minlength=np_par)
    sum_s = np.bincount(ranks, weights=s, minlength=np_par)
    sum_v = np.bincount(ranks, weights=v, minlength=np_par)

    out = []
    inv_n = 1.0 / n
    for r, p in enumerate(parents):
        cnt = cnts[r]
        if cnt == 0:
            out.append((0.0, 0.0, 0.0, 0.0))
            continue
        h_avg = sum_h[r] / cnt - offsets[r]
        if h_avg < 0:
            h_avg += 360.0
        elif h_avg > 360.0:
            h_avg -= 360.0
        out.append((float(h_avg), float(sum_s[r] / cnt), float(sum_v[r] / cnt),
                    float(cnt * inv_n)))
    return out


# ---------------------------------------------------------------------------
# spectral family (pgm_fft + pgm_normalize_fft + calculate_blur_profile +
# vectorize_blur_profile)
# ---------------------------------------------------------------------------

def lognorm_power(p: np.ndarray) -> np.ndarray:
    """Log-normalize a power spectrum into ~[0,1] — ``pgm_normalize_fft``
    (``src/fft_processing.c:173-213``): G_s = 1/(2*ln(sqrt(max)+1));
    x<1 -> 0 else ln(x)*G_s."""
    p = np.asarray(p, dtype=np.float64)
    if p.size == 0:
        return p
    mx = p.max()
    if mx <= 1.0:
        return np.zeros_like(p)
    g_s = 1.0 / (2.0 * np.log(np.sqrt(mx) + 1.0))
    with np.errstate(divide="ignore"):
        return np.where(p < 1.0, 0.0, np.log(np.maximum(p, 1e-300)) * g_s)


def spectrum_bands(x: np.ndarray, n_bands: int | None = None,
                   cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """1-D FFT power-spectrum band averages (the north_star's
    "FFT power-spectrum bands").

    Pipeline replicates the reference composition: remove DC bias
    (``src/blur_profile.c:233-238``), rfft power (``src/fft_processing.c:48-50``
    via Hermitian half-spectrum == np.fft.rfft), log-normalize (G_s formula),
    then banded means with the reference's bin-key rounding:
    ``bin_size_sq = (nf*nf) // (nb*nb)`` (C int division,
    ``src/blur_profile.c:62``) and ``r_bin = newton_int_sqrt(idx^2/bin_size_sq)``
    clamped (``src/blur_profile.c:94-97``).  Output fixed length n_bands,
    zero-padded; empty bins are 0 (``src/blur_profile.c:112-114``).
    """
    if n_bands is None:
        n_bands = cfg.radius_parts
    x = np.asarray(x, dtype=np.float64)
    out = np.zeros(n_bands, dtype=np.float64)
    if x.size < 2:
        return out
    x0 = x - x.mean()
    p = np.abs(np.fft.rfft(x0)) ** 2
    pn = lognorm_power(p)
    nf = p.size
    nb = min(n_bands, nf)
    r_bin = _freq_band_ids(nf, nb)
    sums = np.bincount(r_bin, weights=pn, minlength=nb)
    quant = np.bincount(r_bin, minlength=nb)
    nzmask = quant > 0
    out[:nb][nzmask] = sums[nzmask] / quant[nzmask]
    return out


@lru_cache(maxsize=64)          # bounded: entries are O(nf) — a 1M-token
def _freq_band_ids(nf: int, nb: int) -> np.ndarray:  # doc's entry is ~4 MB
    """Frequency-index -> band-id LUT, cached per spectrum length — the
    analog of the reference's precomputed polar lookup table shared across
    equal-size FFTs (``src/blur_profile.c:19-23,427-458``)."""
    bin_size_sq = max(1, (nf * nf) // (nb * nb))
    idx = np.arange(nf, dtype=np.float64)
    r_bin = newton_int_sqrt(idx * idx / bin_size_sq)
    return np.minimum(r_bin, nb - 1)


def blur_profile_2d(x: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG,
                    dc_bias: float | None = None) -> np.ndarray:
    """(angle x radius) binned power profile of the framed sequence.

    The 1-D sequence is framed into a 2-D plane (height = n//frame_width
    rows of frame_width) — a short-time-FFT recast that lets the reference's
    2-D pipeline apply verbatim: rfft2 half-plane power
    (FFTW r2c layout, ``src/fft_processing.c:18-63``), G_s log-normalize,
    polar keys with symmetry folding (``src/blur_profile.c:427-458``:
    top half phi=-atan2(y,x), bottom half +atan2), then the binned average
    of ``calculate_blur_profile`` (``src/blur_profile.c:34-126``):
    phi_bin = (phi+pi/2)/pi * (num_angle_bins-1)  [note the -1: reference quirk]
    r_bin = newton_int_sqrt(r_sq / bin_size_sq),
    bin_size_sq = (fw*fw + h*h//4) // nb^2  [C int division], empty bins 0.
    """
    x = np.asarray(x, dtype=np.float64)
    n = x.size
    na, nr = cfg.angle_parts, cfg.radius_parts
    if n < 2:
        return np.zeros((na, nr))
    w = min(n, cfg.frame_width)
    hh = n // w
    plane = x[: hh * w].reshape(hh, w)
    return blur_profile_plane(plane, cfg, dc_bias=dc_bias)


def blur_profile_plane(plane: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG,
                       dc_bias: float | None = None) -> np.ndarray:
    """The same binned polar power profile over an ACTUAL 2-D plane (a
    decoded image's gray plane — the reference's native input,
    ``src/blur_profile.c:34-126``), no 1-D framing. ``blur_profile_2d``
    is the framed-sequence recast of this."""
    plane = np.asarray(plane, dtype=np.float64)
    na, nr = cfg.angle_parts, cfg.radius_parts
    if plane.size < 2 or plane.ndim != 2 or min(plane.shape) < 1:
        return np.zeros((na, nr))
    bias = plane.mean() if dc_bias is None else dc_bias
    plane = plane - bias
    p = np.abs(np.fft.rfft2(plane)) ** 2  # (hh, w//2+1) — FFTW r2c layout
    pn = lognorm_power(p)
    fh, fw = pn.shape
    flat = _polar_bin_ids(fh, fw, na, nr)
    sums = np.bincount(flat, weights=pn.ravel(), minlength=na * nr)
    quant = np.bincount(flat, minlength=na * nr)
    prof = np.zeros(na * nr)
    nz = quant > 0
    prof[nz] = sums[nz] / quant[nz]
    return prof.reshape(na, nr)


@lru_cache(maxsize=32)          # bounded: entries are O(fh*fw)
def _polar_bin_ids(fh: int, fw: int, na: int, nr: int) -> np.ndarray:
    """Flattened (angle_bin*nr + radius_bin) key per FFT cell, cached per
    plane shape — the reference's shared Cartesian_To_Polar LUT
    (``src/blur_profile.c:19-23``). Polar keys are symmetry-folded
    (``src/blur_profile.c:444-456``): rows [0, bound) get -atan2, mirrored
    rows +atan2; an odd middle row ends up +atan2 (written twice, + last)."""
    half = fh // 2
    bound = half + 1 if fh % 2 == 1 else half
    phi = np.zeros((fh, fw))
    r_sq = np.zeros((fh, fw), dtype=np.int64)
    xs = np.arange(fw)
    for y in range(bound):
        rr = xs * xs + y * y
        ph = np.arctan2(y, xs)
        phi[y, :] = -ph
        r_sq[y, :] = rr
        phi[fh - 1 - y, :] = ph
        r_sq[fh - 1 - y, :] = rr
    bin_size_sq = max(1, (fw * fw + (fh * fh) // 4) // (nr * nr))
    phi_bin = ((phi + np.pi * 0.5) / np.pi * (na - 1)).astype(np.int64)
    phi_bin = np.clip(phi_bin, 0, na - 1)
    r_bin = newton_int_sqrt(r_sq.astype(np.float64) / bin_size_sq)
    r_bin = np.minimum(r_bin, nr - 1)
    return phi_bin.ravel() * nr + r_bin.ravel()


def spectral_peaks(profile: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG
                   ) -> list[tuple[int, float]]:
    """Peak detection over the angular marginal — ``vectorize_blur_profile``
    (``src/blur_profile.c:324-416``) replicated exactly, including:
    - tot[i] = sum of first num_radius/denom radius bins per angle;
    - 5-tap circular box smoothing via convolve_1d semantics;
    - wrap-aware end checks; threshold avg*streak;
    - QUIRK: the i==0 maximum stores magnitude=tot[0] UNdivided by
      radius_cutoff (``src/blur_profile.c:361``) while interior/last maxima
      divide — replicated;
    - second stage at perpendicular angle (idx + n/2 mod n): if that angle's
      first-half sum > avg -> zero vector; else magnitude = (first radius
      where signal < mag_thresh)/num_radius, angle = int(180*idx/n - 90).
    Cap 10 maxima.  Returns [(angle:int, magnitude:float32-rounded)].
    """
    bins = np.asarray(profile, dtype=np.float64)
    na, nr = bins.shape
    radius_cutoff = nr // cfg.cutoff_ratio_denom
    tot = bins[:, :radius_cutoff].sum(axis=1)
    avg = tot.sum() / na
    smooth = convolve_circular(tot, np.ones(5))
    thresh = avg * cfg.fft_streak_thresh

    maxima: list[tuple[int, float]] = []
    if smooth[0] > smooth[na - 1] and smooth[0] > smooth[1]:
        if smooth[0] > thresh and len(maxima) < 10:
            maxima.append((0, float(tot[0])))  # quirk: not divided
    for i in range(1, na - 1):
        if smooth[i] > smooth[i - 1] and smooth[i] > smooth[i + 1]:
            if smooth[i] > thresh and len(maxima) < 10:
                maxima.append((i, float(tot[i] / radius_cutoff)))
    if smooth[na - 1] > smooth[na - 2] and smooth[na - 1] > smooth[0]:
        if smooth[na - 1] > thresh and len(maxima) < 10:
            maxima.append((na - 1, float(tot[na - 1] / radius_cutoff)))

    out: list[tuple[int, float]] = []
    for angle, _mag in maxima:
        angle_idx = (angle + na // 2) % na
        cur_sig = bins[angle_idx]
        blur_avg = cur_sig[:radius_cutoff].sum()
        if blur_avg > avg:
            out.append((0, 0.0))
            continue
        below = np.nonzero(cur_sig < cfg.magnitude_thresh)[0]
        cur_max_radius = int(below[0]) if below.size else nr
        mag = np.float32(cur_max_radius) / np.float32(nr)
        out.append((int(180.0 * (np.float32(angle_idx) / np.float32(na)) - 90.0),
                    float(mag)))
    return out


def blur_profile_visual(profile: np.ndarray, fh: int, fw: int,
                        cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Inverse render of the (angle x radius) bins back onto an FFT plane —
    ``get_blur_profile_visual`` (``src/blur_profile.c:140-180``), dev/viz
    only: each plane cell takes its bin's value via the same polar LUT the
    forward pass used, so render(bin(plane)) is piecewise-constant."""
    prof = np.asarray(profile, dtype=np.float64)
    na, nr = prof.shape
    flat = _polar_bin_ids(fh, fw, na, nr)
    return prof.ravel()[flat].reshape(fh, fw)


def fft_shift(plane: np.ndarray) -> np.ndarray:
    """Quadrant swap to centered full-plane view — the reference's
    ``fft_shift`` intent (``src/fft_processing.c:111-157``; its stride math
    is buggy and dev-only, SURVEY §2.8). We implement the documented intent
    via np.fft.fftshift; not used in the feature pipeline."""
    return np.fft.fftshift(np.asarray(plane, dtype=np.float64))


def blur_direction_response(profile: np.ndarray,
                            peaks: list[tuple[int, float]],
                            cfg: EngineConfig = DEFAULT_CONFIG
                            ) -> list[np.ndarray]:
    """Per-peak frequency-response curve — the Python-side
    ``generate_blur_direction_frequency_response`` (reference
    ``core.py:122-179``): for each blur vector's angle, quantize with
    ``q_ang = int(angle/(361/parts) + parts/2) % parts`` and return that
    angle row of the (angle x radius) profile."""
    bins = np.asarray(profile, dtype=np.float64)
    na = bins.shape[0]
    out = []
    for angle, _mag in peaks:
        q_ang = int(angle / (361.0 / na) + na / 2) % na
        out.append(bins[q_ang].copy())
    return out


# ---------------------------------------------------------------------------
# autocorrelation / bandpass / sharpness
# ---------------------------------------------------------------------------

def autocorr(x: np.ndarray, n_lags: int | None = None,
             cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Biased autocorrelation via Wiener–Khinchin on the same rfft family
    as the spectrum kernels (north_star names it; nearest reference kin is
    the FFT power spectrum, ``src/fft_processing.c:18-63``).  Normalized by
    lag-0; fixed length n_lags, zero-padded."""
    if n_lags is None:
        n_lags = cfg.autocorr_lags
    x = np.asarray(x, dtype=np.float64)
    out = np.zeros(n_lags)
    if x.size < 2:
        return out
    x0 = x - x.mean()
    p = np.abs(np.fft.rfft(x0)) ** 2
    r = np.fft.irfft(p, n=x.size)
    if r[0] <= 0:
        return out
    k = min(n_lags, x.size)
    out[:k] = r[:k] / r[0]
    return out


@lru_cache(maxsize=8)
def gabor_bank(cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Deterministic Gabor-style bandpass kernel bank (north_star
    "Gabor-style bandpass responses"; reference kin: ``filter_image`` with a
    fixed kernel, ``src/filtering.c:81-107``).  taps=15, sigma=taps/6,
    center freqs f_k=(k+1)/(2*(n_filters+1)) cycles/sample."""
    taps, nfilt = cfg.bandpass_taps, cfg.bandpass_filters
    t = np.arange(taps, dtype=np.float64) - taps // 2
    sigma = taps / 6.0
    env = np.exp(-t * t / (2 * sigma * sigma))
    return np.stack([env * np.cos(2 * np.pi * ((k + 1) / (2.0 * (nfilt + 1))) * t)
                     for k in range(nfilt)])


def bandpass_energy(x: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    """Mean squared response per Gabor-style kernel, circular convolution
    with the reference's 1/h_len scaling (``convolve_1d``)."""
    x = np.asarray(x, dtype=np.float64)
    bank = gabor_bank(cfg)
    out = np.zeros(bank.shape[0])
    if x.size == 0:
        return out
    for i, kern in enumerate(bank):
        y = convolve_circular(x, kern)
        out[i] = float((y * y).mean())
    return out


LAPLACIAN_1D = np.array([-1.0, 2.0, -1.0])  # 1-D analog of the 3x3 Laplacian
                                            # (src/filtering.c:40-50)


def sharpness_of(x: np.ndarray) -> float:
    """variance/mean of the Laplacian-filtered signal ("scale-invariant",
    ``get_variance_sharpness``, ``src/filtering.c:151-183``); 0.0 when the
    mean is 0 (guard for the reference's potential div-by-zero)."""
    x = np.asarray(x, dtype=np.float64)
    if x.size == 0:
        return 0.0
    filt = filter_same_zeropad(x, LAPLACIAN_1D)
    avg = filt.mean()
    if avg == 0.0:
        return 0.0
    return float(np.var(filt) / avg)


def sharpness_rois(x: np.ndarray, rois: list[tuple[int, int]] | None) -> list[float]:
    """Per-ROI sharpness; None rois -> [] (reference returns NULL,
    ``src/filtering.c:152-154``).  ROI = [start, end) slice of the sequence
    (1-D analog of Crop_Boundaries, ``src/image_processing.h:92-98``)."""
    if not rois:
        return []
    x = np.asarray(x, dtype=np.float64)
    out = []
    for start, end in rois[:10]:  # cap 10 (README.md:137)
        start = max(0, int(start))
        end = min(len(x), int(end))
        out.append(sharpness_of(x[start:end]) if end > start else 0.0)
    return out


def sharpness_avg(x: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG) -> float:
    """Conditional mean of Laplacian-filtered values > threshold
    (``sharpness_avg`` + ``get_average_sharpness``, ``src/filtering.c:58-71,
    186-200``); 0.0 when no values qualify (reference would produce NaN)."""
    x = np.asarray(x, dtype=np.float64)
    if x.size == 0:
        return 0.0
    filt = filter_same_zeropad(x, LAPLACIAN_1D)
    sel = filt[filt > cfg.sharpness_threshold]
    if sel.size == 0:
        return 0.0
    return float(sel.mean())


LAPLACIAN_3X3 = np.array([[-1.0, -1.0, -1.0],
                          [-1.0,  8.0, -1.0],
                          [-1.0, -1.0, -1.0]])   # initialize_3x3_laplacian,
                                                 # src/filtering.c:40-50


def filter_plane_zeropad(plane: np.ndarray, kern: np.ndarray) -> np.ndarray:
    """Zero-padded same-size 2-D convolution (``filter_image``,
    ``src/filtering.c:75-110`` semantics: out-of-frame taps contribute 0).
    Implemented as a sum of shifted views — for a 3x3 kernel this is 9
    vectorized adds, far cheaper than generic correlate at these sizes."""
    plane = np.asarray(plane, dtype=np.float64)
    kh, kw = kern.shape
    yo, xo = kh // 2, kw // 2
    h, w = plane.shape
    padded = np.zeros((h + kh - 1, w + kw - 1))
    padded[yo:yo + h, xo:xo + w] = plane
    out = np.zeros((h, w))
    for dy in range(kh):
        for dx in range(kw):
            c = kern[dy, dx]
            if c != 0.0:
                out += c * padded[dy:dy + h, dx:dx + w]
    return out


def sharpness_plane_avg(plane: np.ndarray,
                        cfg: EngineConfig = DEFAULT_CONFIG) -> float:
    """2-D form of :func:`sharpness_avg` on a real image plane: conditional
    mean of 3x3-Laplacian-filtered values above the threshold
    (``sharpness_avg``, ``src/filtering.c:58-71``)."""
    plane = np.asarray(plane, dtype=np.float64)
    if plane.size == 0:
        return 0.0
    filt = filter_plane_zeropad(plane, LAPLACIAN_3X3)
    sel = filt[filt > cfg.sharpness_threshold]
    if sel.size == 0:
        return 0.0
    return float(sel.mean())


def sharpness_plane_var(plane: np.ndarray) -> float:
    """2-D form of :func:`sharpness_of`: variance/mean of the
    3x3-Laplacian-filtered plane (``get_variance_sharpness``,
    ``src/filtering.c:151-183``); 0.0 on zero mean."""
    plane = np.asarray(plane, dtype=np.float64)
    if plane.size == 0:
        return 0.0
    filt = filter_plane_zeropad(plane, LAPLACIAN_3X3)
    avg = filt.mean()
    if avg == 0.0:
        return 0.0
    return float(np.var(filt) / avg)


# ---------------------------------------------------------------------------
# misc projections
# ---------------------------------------------------------------------------

def downsample(tokens: np.ndarray, rate: int) -> np.ndarray:
    """Stride-N decimation, no anti-aliasing (``downsample_rgb``,
    ``src/image_processing.c:344-366``)."""
    if rate <= 1:
        return tokens
    return np.asarray(tokens)[::rate]


def minmax_normalize(x: np.ndarray) -> np.ndarray:
    """Min-max rescale to [0,1] (``normalize_array``, ``src/utilities.c:189-207``)."""
    x = np.asarray(x, dtype=np.float64)
    if x.size == 0:
        return x
    lo, hi = x.min(), x.max()
    if hi == lo:
        return np.zeros_like(x)
    return (x - lo) / (hi - lo)


# ---------------------------------------------------------------------------
# the full report (get_full_report_data analog, src/interface.c:20-94)
# ---------------------------------------------------------------------------

def extract_features(tokens: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG,
                     rois: list[tuple[int, int]] | None = None) -> dict:
    """Full feature vector for one tokenized sequence — the
    ``Full_Report_Data`` analog (``src/utilities.h:30-37``).  Stage order
    mirrors ``get_full_report_data`` (``src/interface.c:28-93``): downsample
    (hsv/palette path only — the reference downsamples before HSV but runs
    stats/FFT on the ORIGINAL image, ``src/interface.c:39-50``), derived
    channels, stats, histogram+entropy, palette, sharpness, spectral family
    with DC bias = the stats mean (``src/interface.c:78-79``).
    """
    t = np.asarray(tokens, dtype=np.int64)
    x = t / float(VOCAB_SIZE)
    t_ds = downsample(t, cfg.downsample_rate)
    h, s, v = derive_hsv(t_ds)

    rms_mean, rms_std = rms_stats(x)
    mean_norm_value = float(s.mean()) if s.size else 0.0  # S_bar analog
    # one bin-assignment pass shared by histogram and palette
    g = hist_bin_ids(h, s, v, cfg) if h.size else np.array([], dtype=np.int64)
    counts = np.bincount(g, minlength=cfg.hist_cells).astype(np.int64)
    pal = palette(h, s, v, cfg, g=g, counts=counts)
    bands = spectrum_bands(x, cfg.radius_parts, cfg)
    prof = blur_profile_2d(x, cfg, dc_bias=rms_mean)
    peaks = spectral_peaks(prof, cfg)
    return {
        "rms_mean": rms_mean,
        "rms_std": rms_std,
        "mean_norm_value": mean_norm_value,
        "hist_counts": counts,
        "hist_entropy": entropy(counts),
        "palette": pal,
        "spectrum_bands": bands,
        "spectral_peaks": peaks,
        "autocorr": autocorr(x, cfg.autocorr_lags, cfg),
        "bandpass_energy": bandpass_energy(x, cfg),
        "sharpness": sharpness_rois(x, rois),
        "sharpness_avg": sharpness_avg(x, cfg),
    }


# ---------------------------------------------------------------------------
# perceptual hash (training-data image dedup; engine addition — the
# reference has no multi-image operators)
# ---------------------------------------------------------------------------

def resize_area(plane: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area-average resize (box filter over the integer
    bin grid) — reduceat along each axis, fully vectorized. Inputs
    smaller than the target are nearest-upsampled first."""
    p = np.asarray(plane, dtype=np.float64)
    h, w = p.shape
    if h < out_h:
        p = p[(np.arange(out_h) * h) // out_h]
        h = out_h
    if w < out_w:
        p = p[:, (np.arange(out_w) * w) // out_w]
        w = out_w
    re = (np.arange(out_h + 1) * h) // out_h
    p = np.add.reduceat(p, re[:-1], axis=0) / np.diff(re)[:, None]
    ce = (np.arange(out_w + 1) * w) // out_w
    return np.add.reduceat(p, ce[:-1], axis=1) / np.diff(ce)[None, :]


_DCT32 = None


def phash_plane(gray: np.ndarray, hash_size: int = 8,
                highfreq_factor: int = 4) -> int:
    """64-bit perceptual hash of a gray plane (the standard pHash
    construction, public knowledge): area-resize to 32x32, 2-D
    orthonormal DCT-II, keep the top-left ``hash_size`` x ``hash_size``
    low-frequency block, threshold each coefficient against the block
    MEDIAN. Robust to re-encoding/resizing/small edits — the image-dedup
    signature; hamming distance over it measures perceptual change.
    Returned as a SIGNED 64-bit int (Spark LongType-safe)."""
    global _DCT32
    n = hash_size * highfreq_factor
    if _DCT32 is None or _DCT32.shape[0] != n:
        m = np.zeros((n, n))
        for k in range(n):
            for j in range(n):
                m[k, j] = np.cos((2 * j + 1) * k * np.pi / (2.0 * n))
        m *= np.sqrt(2.0 / n)
        m[0, :] = 1.0 / np.sqrt(n)
        _DCT32 = m
    small = resize_area(np.asarray(gray, dtype=np.float64), n, n)
    coef = _DCT32 @ small @ _DCT32.T
    low = coef[:hash_size, :hash_size]
    bits = (low > np.median(low)).reshape(-1)
    packed = np.packbits(bits.astype(np.uint8)).tobytes()
    return int.from_bytes(packed, "big", signed=True)
