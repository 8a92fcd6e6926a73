"""Length-grouped batched feature extraction — the Arrow-batch fast path.

``extract_features`` (kernels.py) computes one document at a time; inside a
mapInArrow batch that means hundreds of small numpy calls per row. This
module groups the batch's rows BY TOKEN LENGTH and runs each group as one
stacked (m, n) computation: one rfft for m docs, one bincount for m
histograms, etc. Pre-tokenized training corpora cluster hard at fixed
context lengths (truncation/padding), so groups are large exactly when it
matters.

Semantics: identical to kernels.extract_features (parity-tested at
rtol 1e-9 in tests/test_batch_kernels.py, exact for integer outputs).
The only intentional numeric difference is bandpass energy, computed here
by the circular-convolution theorem (rfft product) instead of direct
convolution — same math, FP differences ~1e-13 relative.

Per-doc small steps (palette ranking, peak walking) stay loops — they
operate on 112-cell / 72-angle aggregates, not token arrays.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from . import kernels as K
from .config import DEFAULT_CONFIG, VOCAB_SIZE, EngineConfig


def _banded_means(Pn: np.ndarray, nb: int) -> np.ndarray:
    """Row-wise banded means of a (m, nf) spectrum via one offset bincount —
    no cached (nf, nb) matrix (a 1M-token doc would make that ~160 MB), and
    O(m*nf) instead of the one-hot matmul's O(m*nf*nb)."""
    m, nf = Pn.shape
    r_bin = K._freq_band_ids(nf, nb)
    ids = (r_bin[None, :] + (np.arange(m) * nb)[:, None]).ravel()
    sums = np.bincount(ids, weights=Pn.ravel(), minlength=m * nb).reshape(m, nb)
    quant = np.bincount(r_bin, minlength=nb)
    out = np.zeros((m, nb))
    nz = quant > 0
    out[:, nz] = sums[:, nz] / quant[nz]
    return out


@lru_cache(maxsize=32)
def _bandpass_acf_weights(cfg: EngineConfig, k_eff: int):
    """Per-filter lag weights W[f, d] = sum_u c_u c_{u-d} (d = 0..k-1) of
    the (possibly length-folded) Gabor bank, plus per-filter coefficient
    sums — the quadratic-form constants for _bandpass_energy_acf."""
    bank = K.gabor_bank(cfg)
    nfilt, taps = bank.shape
    if k_eff < taps:                   # tiny rows: taps folded modulo n
        coefs = np.zeros((nfilt, k_eff))
        for j in range(taps):
            coefs[:, j % k_eff] += bank[:, j]
    else:
        coefs = bank
    W = np.stack([np.correlate(c, c, mode="full")[len(c) - 1:]
                  for c in coefs])
    return W, coefs.sum(axis=1), coefs.shape[1], taps


def _bandpass_energy_acf(x: np.ndarray, cfg: EngineConfig,
                         mu: np.ndarray, r: np.ndarray) -> np.ndarray:
    """Gabor bandpass energies from the centered circular autocorrelation
    ``r`` (= irfft(|rfft(x - mu)|^2)) — algebraically identical to
    kernels.bandpass_energy's direct circular convolution:

        E_f = mean_t (sum_u c_u x[(t-u) mod n] / taps)^2
            = (1/(n*taps^2)) sum_{u,v} c_u c_v R_raw((u-v) mod n)

    with R_raw(d) = r[d mod n] + n*mu^2 (raw vs centered circular acf
    differ by exactly n*mu^2 at every lag). The FFT work is already paid
    by the autocorrelation feature; this combine is O(m * nfilt * taps)."""
    m, n = x.shape
    taps0 = K.gabor_bank(cfg).shape[1]
    W, sw, k, taps = _bandpass_acf_weights(cfg, min(n, taps0))
    E = W[:, 0][None, :] * r[:, 0][:, None]
    if k > 1:
        idx_pos = np.arange(1, k) % n
        idx_neg = (-np.arange(1, k)) % n
        E = E + (W[:, 1:][None, :, :]
                 * (r[:, idx_pos][:, None, :]
                    + r[:, idx_neg][:, None, :])).sum(axis=2)
    E = E + (sw ** 2)[None, :] * (n * mu ** 2)[:, None]
    return E / (n * taps ** 2)


def _lognorm_rows(p: np.ndarray) -> np.ndarray:
    """Row-wise pgm_normalize_fft (kernels.lognorm_power vectorized over the
    leading axis): per-row max -> G_s; x<1 -> 0."""
    flat = p.reshape(p.shape[0], -1)
    mx = flat.max(axis=1)
    safe_mx = np.maximum(mx, 1.0 + 1e-300)
    g_s = 1.0 / (2.0 * np.log(np.sqrt(safe_mx) + 1.0))
    with np.errstate(divide="ignore"):
        out = np.where(flat < 1.0, 0.0,
                       np.log(np.maximum(flat, 1e-300)) * g_s[:, None])
    out[mx <= 1.0] = 0.0
    return out.reshape(p.shape)


@lru_cache(maxsize=8)
def _saliency_weights(cfg: EngineConfig = DEFAULT_CONFIG) -> np.ndarray:
    nh, ns, nv = K.cell_nominals(cfg)
    return (cfg.quantity_weight
            + cfg.saturation_value_weight * ns * nv) * 1000.0


def _palette_assign(counts: np.ndarray, cfg: EngineConfig):
    """Parent selection + nearest-parent rank assignment from per-row
    cell counts alone (row-local, so it batches over ANY row set).

    Returns (n_par (m,), order (m, cells), rank_lookup (m, cells)) with
    rank_lookup valid at OCCUPIED cells only (the only cells tokens can
    reference). Parent selection orders by (saliency desc, cell asc) via
    stable argsort; the argmin over masked distance rows is computed
    only for occupied (row, cell) pairs — the dense (m, cells, pmax)
    tensor would be ~3x pure waste — and np.argmin's FIRST-minimum is
    exactly the per-doc tie rule (first occurrence in saliency order).
    Rows with zero counts get n_par = 0 (no tokens, no palette)."""
    m, cells = counts.shape
    D = K._distance_matrix(cfg)                          # (cells, cells)
    sal = counts * _saliency_weights(cfg)[None, :]
    order = np.argsort(-sal, axis=1, kind="stable")       # sal desc, cell asc
    totals = counts.sum(axis=1)
    goals = np.maximum(1, (totals * cfg.coverage_thresh).astype(np.int64))
    c_sorted = np.take_along_axis(counts, order, axis=1)
    cum_prev = np.cumsum(c_sorted, axis=1) - c_sorted
    keep = cum_prev < goals[:, None]                      # (m, cells) in order-space
    n_par = np.where(totals > 0, keep.sum(axis=1), 0)

    pmax0 = int(n_par.max()) if m else 0
    occ_r, occ_c = np.nonzero(counts)                     # row-major
    nearest_occ = np.empty(occ_r.size, dtype=np.int64)
    ranks = np.arange(pmax0)
    slab = max(1, int(4_000_000 // max(1, pmax0)))
    for lo in range(0, occ_r.size, slab):
        hi_ = min(occ_r.size, lo + slab)
        rs, cs = occ_r[lo:hi_], occ_c[lo:hi_]
        Dvals = D[cs[:, None], order[rs, :pmax0]]         # (slab, pmax)
        Dvals[ranks[None, :] >= n_par[rs, None]] = np.inf
        nearest_occ[lo:hi_] = np.argmin(Dvals, axis=1)
    rank_lookup = np.zeros((m, cells), dtype=np.int64)
    rank_lookup[occ_r, occ_c] = nearest_occ
    return n_par, order, rank_lookup


def _hist_entropy_global(g: np.ndarray, row_of: np.ndarray, n_rows: int,
                         cfg: EngineConfig):
    """Per-row 112-cell histogram + entropy over a FLAT (ragged) token
    stream — integer-exact counts; the entropy expression and its
    per-row reduction tree are identical to the per-group form."""
    cells = cfg.hist_cells
    counts = np.bincount(row_of * cells + g, minlength=n_rows * cells)         .reshape(n_rows, cells).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        p = counts / counts.sum(axis=1, keepdims=True)
        ent = -np.where(p > 0, p * np.log(np.where(p > 0, p, 1.0)),
                        0.0).sum(axis=1)
    return counts, ent


def _palette_global(h: np.ndarray, s: np.ndarray, v: np.ndarray,
                    g: np.ndarray, row_of: np.ndarray, nd_row: np.ndarray,
                    counts: np.ndarray, cfg: EngineConfig):
    """Vectorized K.palette over a FLAT (ragged) token stream for ALL
    rows of a batch at once. Returns (n_par (N,), h_avg, s_avg, v_avg,
    pct) with (N, pmax) value matrices valid for rank < n_par[row].
    Every op is row-local (assignment, see _palette_assign) or a
    per-(row, rank) bincount whose within-bucket accumulation order is
    the per-doc token order, so the values equal the per-doc kernel's
    (parity-tested row-for-row in tests/test_batch_kernels.py)."""
    N = counts.shape[0]
    nh, _, _ = K.cell_nominals(cfg)
    n_par, order, rank_lookup = _palette_assign(counts, cfg)
    pmax = int(n_par.max()) if N else 0
    if pmax == 0:
        z = np.zeros((N, 0))
        return n_par, z, z, z, z
    rank_flat = rank_lookup[row_of, g]
    flat_ids = row_of * pmax + rank_flat
    minlen = N * pmax
    cnts = np.bincount(flat_ids, minlength=minlen).reshape(N, pmax)
    offsets = 180.0 - nh[order[:, :pmax]]                 # (N, pmax)
    tmp = h + offsets[row_of, rank_flat]
    tmp = np.where(tmp > 360.0, tmp - 360.0, tmp)
    tmp = np.where(tmp < 0.0, tmp + 360.0, tmp)
    sum_h = np.bincount(flat_ids, weights=tmp,
                        minlength=minlen).reshape(N, pmax)
    sum_s = np.bincount(flat_ids, weights=s,
                        minlength=minlen).reshape(N, pmax)
    sum_v = np.bincount(flat_ids, weights=v,
                        minlength=minlen).reshape(N, pmax)
    with np.errstate(divide="ignore"):
        inv_n = np.where(nd_row > 0, 1.0 / np.maximum(nd_row, 1), 0.0)
    valid = cnts > 0
    safe = np.maximum(cnts, 1)
    h_avg = sum_h / safe - offsets
    h_avg = np.where(h_avg < 0, h_avg + 360.0, h_avg)
    h_avg = np.where(h_avg > 360.0, h_avg - 360.0, h_avg)
    h_avg = np.where(valid, h_avg, 0.0)
    s_avg = np.where(valid, sum_s / safe, 0.0)
    v_avg = np.where(valid, sum_v / safe, 0.0)
    pct = np.where(valid, cnts * inv_n[:, None], 0.0)
    return n_par, h_avg, s_avg, v_avg, pct


def _select_peaks(tot: np.ndarray, perp_rows, cfg: EngineConfig):
    """The peak selection shared by _peaks_core and _peaks_core_1d.
    ``tot``: (m, na) per-angle sums of each (na, nr) profile's first
    nr // cutoff_ratio_denom radius bins; ``perp_rows(rows_idx, pa)`` ->
    the (npairs, nr) profile rows at the perpendicular angles ``pa``."""
    m, na = tot.shape
    avg = tot.sum(axis=1) / na                              # (m,)
    # accumulate OLDEST-first (roll 4 down to 0) — the exact FP order of
    # convolve_circular's np.convolve inner loop; tie-heavy profiles
    # (constant regions) make peak selection sensitive to last-ulp
    # rounding, so the order must match for row-for-row parity
    smooth = sum(np.roll(tot, j, axis=1) for j in (4, 3, 2, 1, 0)) / 5.0
    mask = ((smooth > np.roll(smooth, 1, axis=1))
            & (smooth > np.roll(smooth, -1, axis=1))
            & (smooth > (avg * cfg.fft_streak_thresh)[:, None]))
    rows_idx, ang_idx = np.nonzero(mask)
    # cap 10 per row BEFORE gathering (position within each row's run)
    bounds = np.searchsorted(rows_idx, np.arange(m + 1))
    pos = np.arange(rows_idx.size) - bounds[rows_idx]
    keep = pos < 10
    rows_idx, ang_idx = rows_idx[keep], ang_idx[keep]
    # stage 2 only for the (few) peak pairs — scanning the whole (m, na, nr)
    # profile for first-below radii cost more than everything else combined
    pa = (ang_idx + na // 2) % na
    bel = perp_rows(rows_idx, pa) < cfg.magnitude_thresh
    nr = bel.shape[1]
    fb = np.where(bel.any(axis=1), bel.argmax(axis=1), nr)
    zero_out = tot[rows_idx, pa] > avg[rows_idx]
    mags = (fb.astype(np.float32) / np.float32(nr)).astype(np.float64)
    degs = _deg_table(na)[pa]
    ang_flat = np.where(zero_out, 0, degs).astype(np.int64)
    mag_flat = np.where(zero_out, 0.0, mags)
    return rows_idx, ang_flat, mag_flat


def _peaks_core(prof: np.ndarray, cfg: EngineConfig):
    """Vectorized K.spectral_peaks across an equal-shape group — FLAT
    output (rows_idx, angle, magnitude), row-major, cap 10 per row.

    prof: (m, na, nr). Per-doc profiling showed the row loop over
    K.spectral_peaks dominating kernel time (~41 of 137 core-seconds at
    1M rows) — each call is Python loop + several tiny numpy allocs.

    Faithful to the per-doc path:
    - the wrap-aware end checks of vectorize_blur_profile collapse to
      uniform circular neighbor comparisons (i=0 compares against na-1 and
      1; i=na-1 against na-2 and 0 — exactly np.roll semantics);
    - stage-1 magnitudes (incl. the undivided-i==0 quirk) are computed by
      the reference but DISCARDED by stage 2 (`for angle, _mag in maxima`),
      so only the peak ANGLE set must match — magnitudes here come solely
      from stage 2;
    - smoothing is the trailing circular box-5 (convolve_circular with
      ones(5)): sum of rolls 0..4 over the angle axis / 5;
    - stage-2 blur_avg == tot[row, perp_angle] (same contiguous slice-sum);
      first-below-threshold radius via boolean argmax (exact index match);
      float32 division order replicated elementwise.
    Row-for-row parity with K.spectral_peaks is pinned by the existing
    batch-vs-perdoc tests and the frozen golden snapshot."""
    nr = prof.shape[2]
    tot = prof[:, :, :nr // cfg.cutoff_ratio_denom].sum(axis=2)   # (m, na)
    return _select_peaks(tot, lambda rows, pa: prof[rows, pa], cfg)


def _peaks_core_1d(prof_r: np.ndarray, angle: int, cfg: EngineConfig):
    """_peaks_core for the single-occupied-angle case (hh == 1): the
    dense profile is prof[:, a, :] == prof_r when a == angle, else
    zeros. Every summation replicates the dense pairwise tree exactly
    (adding exact +0.0 is an FP identity), so the output is
    bit-identical to _peaks_core on the equivalent dense profile —
    pinned by tests — without ever allocating the (m, na, nr) zeros."""
    m, nr = prof_r.shape
    tot = np.zeros((m, cfg.angle_parts))
    tot[:, angle] = prof_r[:, :nr // cfg.cutoff_ratio_denom].sum(axis=1)
    return _select_peaks(
        tot, lambda rows, pa: np.where((pa == angle)[:, None],
                                       prof_r[rows], 0.0), cfg)


def _dense_profile(P2n: np.ndarray, flat_lut: np.ndarray,
                   m: int, na: int, nr: int) -> np.ndarray:
    """Dense (m, na, nr) polar-binned profile (the hh > 1 path)."""
    quant2 = np.bincount(flat_lut, minlength=na * nr)
    ids = (flat_lut[None, :] + (np.arange(m) * na * nr)[:, None]).ravel()
    sums2 = np.bincount(ids, weights=P2n.reshape(m, -1).ravel(),
                        minlength=m * na * nr).reshape(m, na * nr)
    nz2 = quant2 > 0
    prof = np.zeros((m, na * nr))
    prof[:, nz2] = sums2[:, nz2] / quant2[nz2]
    return prof.reshape(m, na, nr)


@lru_cache(maxsize=8)
def _deg_table(na: int) -> np.ndarray:
    return np.array([int(180.0 * (np.float32(a) / np.float32(na)) - 90.0)
                     for a in range(na)])


def _group_features(T: np.ndarray, cfg: EngineConfig,
                    timings: dict[str, float] | None = None) -> dict:
    """The spectral features of one equal-length group, T: (m, n) int32,
    n >= 1 — everything but the hsv/histogram/palette family, which
    batch_extract_arrow runs ONCE per batch on the flat token stream.
    Spectral peaks come back flat: (rows_idx, angle, magnitude).

    ``timings`` (optional) accumulates wall seconds per kernel FAMILY —
    the per-stage analog of the reference's timing macros
    (``src/utilities.h:10-18`` / README.md:63-75's 11 timed stages):
    stats_s (rms+spectrum+sharpness), hist_s (mean_norm here; the
    batch-global histogram in batch_extract_arrow), autocorr_s,
    bandpass_s, blur_fft_s (2-D framing+profile), peaks_s; palette_s is
    the batch-global palette pass."""
    from time import perf_counter as _pc

    def _mark(name: str, t0: float) -> float:
        t1 = _pc()
        if timings is not None:
            timings[name] = timings.get(name, 0.0) + (t1 - t0)
        return t1

    m, n = T.shape
    Tl = T.astype(np.int64)
    x = Tl / float(VOCAB_SIZE)

    _t = _pc()
    st = signal_stats_batch(x, cfg)
    _t = _mark("stats_s", _t)
    rms_mean, rms_std = st["rms_mean"], st["rms_std"]

    # downsample applies to the hsv/histogram/palette path ONLY — the
    # reference runs stats/FFT on the ORIGINAL image (src/interface.c:39-50);
    # stride slicing keeps the group rectangular so batching is preserved
    Td = Tl[:, ::cfg.downsample_rate] if cfg.downsample_rate > 1 else Tl
    # only mean_norm of the hsv family stays here: its np.mean
    # pairwise-summation tree needs the rectangular group (a ragged
    # reduceat would change the FP tree of an oracle-rounded output)
    mean_norm = ((Td % K.SAT_MOD) / float(K.SAT_MOD)).mean(axis=1)
    _t = _mark("hist_s", _t)

    # spectral family: bands from the shared stats; autocorr reuses the
    # power spectrum (Wiener–Khinchin) instead of a second rfft
    bands = st["spectrum_bands"]
    sh_avg = st["sharpness_avg"]
    ac = np.zeros((m, cfg.autocorr_lags))
    if st["power"] is not None:
        P = st["power"]
        r = np.fft.irfft(P, n=n, axis=1)
        k = min(cfg.autocorr_lags, n)
        r0 = r[:, 0]
        ok = r0 > 0
        ac[ok, :k] = r[ok, :k] / r0[ok, None]
    else:
        r = np.zeros((m, n))      # n == 1: centered circular acf is 0
    _t = _mark("autocorr_s", _t)

    # bandpass energy (r7): quadratic form over the circular
    # autocorrelation already in hand — E_f = (1/(n*taps^2)) *
    # sum_{u,v} c_u c_v R_raw((u-v) mod n) with R_raw(d) = r[d] + n*mu^2,
    # so the whole Gabor bank costs one tiny (k x nfilt) combine per row
    # instead of a windowed convolution. Equal to the direct form to
    # ~1e-14 relative (parity-tested; tolerance 1e-7).
    bp = _bandpass_energy_acf(x, cfg, rms_mean, r)
    _t = _mark("bandpass_s", _t)

    # blur profile framing + batched peaks + palette
    na, nr = cfg.angle_parts, cfg.radius_parts
    prof = None                       # dense (m, na, nr) — hh > 1 only
    prof_r = None                     # compact single-angle radius profile
    prof_angle = 0
    if n >= 2:
        w = min(n, cfg.frame_width)
        hh = n // w
        if hh == 1:
            # r7 single-row fast path. Two exact identities:
            # (1) rfft2 of the (m, 1, w) plane == the 1-D rfft of the
            #     SAME centered signal already computed for the stats
            #     (bit-identical, pinned by tests) — so no second FFT;
            # (2) the 1-row spectrum's polar LUT maps every bin to ONE
            #     angle, so the (m, na*nr) dense profile is a single
            #     (m, nr) radius profile + zeros. Building only the
            #     compact profile cuts ~23 KB/row of pure-zero memory
            #     traffic, the bandwidth bottleneck at 32 cores.
            P2n = _lognorm_rows(P[:, : w // 2 + 1])
            fw = P2n.shape[1]
            flat_lut = K._polar_bin_ids(1, fw, na, nr)
            prof_angle = int(flat_lut[0]) // nr    # phi = 0 in every bin
            r_bin = flat_lut % nr
            quant_r = np.bincount(r_bin, minlength=nr)
            ids = (r_bin[None, :]
                   + (np.arange(m) * nr)[:, None]).ravel()
            sums_r = np.bincount(ids, weights=P2n.ravel(),
                                 minlength=m * nr).reshape(m, nr)
            nzr = quant_r > 0
            prof_r = np.zeros((m, nr))
            prof_r[:, nzr] = sums_r[:, nzr] / quant_r[nzr]
        else:
            planes = x[:, : hh * w].reshape(m, hh, w) \
                - rms_mean[:, None, None]
            P2 = np.abs(np.fft.rfft2(planes, axes=(1, 2))) ** 2
            P2n = _lognorm_rows(P2)
            fh, fw = P2n.shape[1], P2n.shape[2]
            flat_lut = K._polar_bin_ids(fh, fw, na, nr)
            prof = _dense_profile(P2n, flat_lut, m, na, nr)
    else:
        prof_r = np.zeros((m, nr))    # n == 1: all-zero profile
    _t = _mark("blur_fft_s", _t)
    peaks = (_peaks_core(prof, cfg) if prof is not None
             else _peaks_core_1d(prof_r, prof_angle, cfg))
    _mark("peaks_s", _t)
    return {
        "rms_mean": rms_mean, "rms_std": rms_std, "mean_norm_value": mean_norm,
        "spectrum_bands": bands,
        "autocorr": ac, "bandpass_energy": bp, "sharpness_avg": sh_avg,
        "peaks_flat": peaks,
    }


def length_groups(arrays: list) -> dict[int, list[int]]:
    """Group row indices by array length (None counts as 0) — the shared
    scatter key for the equal-length batched media computation
    (multimodal.media_features)."""
    groups: dict[int, list[int]] = {}
    for i, a in enumerate(arrays):
        n = 0 if a is None else len(a)
        groups.setdefault(n, []).append(i)
    return groups


def signal_stats_batch(X: np.ndarray, cfg: EngineConfig = DEFAULT_CONFIG
                       ) -> dict:
    """rms / spectrum-band / sharpness stats for an equal-length (m, n)
    float batch — the SINGLE implementation shared by the token path
    (_group_features) and the media path (multimodal.media_features).
    Row-for-row parity with kernels.rms_stats / spectrum_bands /
    sharpness_avg. Also returns the raw ``power`` spectrum (None for
    n < 2) so callers can derive autocorrelation without a second rfft."""
    m, n = X.shape
    rms_mean = X.mean(axis=1)
    rms_std = np.sqrt(np.var(X, axis=1))
    nb = cfg.radius_parts
    bands = np.zeros((m, nb))
    P = None
    if n >= 2:
        P = np.abs(np.fft.rfft(X - rms_mean[:, None], axis=1)) ** 2
        Pn = _lognorm_rows(P)
        nbb = min(nb, P.shape[1])
        bands[:, :nbb] = _banded_means(Pn, nbb)
    # sharpness_avg: zero-padded [-1,2,-1] correlation, vectorized shifts
    filt = 2.0 * X
    filt[:, :-1] -= X[:, 1:]
    filt[:, 1:] -= X[:, :-1]
    mask = filt > cfg.sharpness_threshold
    cnt = mask.sum(axis=1)
    ssum = np.where(mask, filt, 0.0).sum(axis=1)
    sh_avg = np.where(cnt > 0, ssum / np.maximum(cnt, 1), 0.0)
    return {"rms_mean": rms_mean, "rms_std": rms_std,
            "spectrum_bands": bands, "sharpness_avg": sh_avg, "power": P}


_SCALAR_COLS = ("rms_mean", "rms_std", "mean_norm_value", "hist_entropy",
                "sharpness_avg")


def batch_extract(token_arrays: list, cfg: EngineConfig = DEFAULT_CONFIG,
                  rois_list: list | None = None,
                  timings: dict[str, float] | None = None) -> list[dict]:
    """Row-dict view of batch_extract_arrow (the reference/test API —
    one dict per input row, same shape as engine.features_row, plain
    Python lists in array cells). A None token array is an empty doc."""
    import pyarrow as pa

    toks = pa.array([None if t is None else np.asarray(t, dtype=np.int32)
                     for t in token_arrays], type=pa.list_(pa.int32()))
    cols = batch_extract_arrow(toks, cfg, rois_list, timings)
    # list cells are sliced from their flat children's .tolist():
    # pyarrow's per-cell to_pylist costs ~3 us a palette struct, 3x the
    # whole kernel DAG at this batch size
    out = {}
    for c, a in cols.items():
        if not pa.types.is_list(a.type):
            out[c] = a.to_pylist()
            continue
        flat = a.values
        if pa.types.is_struct(flat.type):
            names = [f.name for f in flat.type]
            items = [dict(zip(names, t)) for t in zip(
                *(flat.field(n).to_numpy().tolist() for n in names))]
        else:
            items = flat.to_numpy().tolist()
        offs = a.offsets.to_numpy().tolist()
        out[c] = [items[i:j] for i, j in zip(offs[:-1], offs[1:])]
    return [dict(zip(out, row)) for row in zip(*out.values())]

# ---------------------------------------------------------------------------
# r7: Arrow-native batch extraction — zero pandas, zero per-row Python on
# the output path. Input is the tokens ListArray straight from the
# mapInArrow record batch (flat values + offsets, no per-row ndarray
# materialization); outputs are pyarrow arrays built from flat numpy
# buffers (fixed-width features via one reshape, palette/peaks as flat
# struct children + offsets). Values equal the per-doc kernels.extract_features
# row for row — parity-pinned in tests/test_batch_kernels.py.
# ---------------------------------------------------------------------------

def batch_extract_arrow(tokens_arr, cfg: EngineConfig = DEFAULT_CONFIG,
                        rois_list: list | None = None,
                        timings: dict[str, float] | None = None) -> dict:
    """Features for one Arrow batch as PYARROW ARRAYS, computed from the
    tokens ListArray directly; row for row the same values as
    engine.features_row (parity-pinned through batch_extract):

    - input: one flat int32 gather per length group (no per-row
      np.asarray + np.stack);
    - fixed-width outputs (hist_counts, spectrum_bands, autocorr,
      bandpass_energy): (N, W) scatter + one ListArray over the raveled
      buffer;
    - palette / spectral_peaks: flat struct children + offsets — no
      per-row list-of-dict assembly at all.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from .arrow_stage import fixed_list

    N = len(tokens_arr)
    lens = pc.fill_null(pc.list_value_length(tokens_arr), 0) \
        .to_numpy(zero_copy_only=False).astype(np.int64)
    vals = tokens_arr.flatten().to_numpy(zero_copy_only=False)
    starts = np.concatenate([[0], np.cumsum(lens)])[:-1]

    scal = {c: np.zeros(N) for c in _SCALAR_COLS}
    nb, nl = cfg.radius_parts, cfg.autocorr_lags
    nf = K.gabor_bank(cfg).shape[0]
    bands_mat = np.zeros((N, nb))
    ac_mat = np.zeros((N, nl))
    bp_mat = np.zeros((N, nf))
    pk_rows, pk_ang, pk_mag = [], [], []

    # --- hsv / histogram / palette family: ONE pass over the flat
    # (downsampled) token stream for the whole batch (r7) — every op is
    # row-local or a per-(row, key) bincount, so the values are
    # identical to the per-length-group form (parity-pinned) while the
    # ~90 per-group argsorts/bincounts collapse into one each ---
    from time import perf_counter as _pc
    _t0 = _pc()
    rate = cfg.downsample_rate
    row_of = np.repeat(np.arange(N, dtype=np.int64), lens)
    if rate > 1:
        within = np.arange(vals.size, dtype=np.int64)             - np.repeat(starts, lens)
        dmask = (within % rate) == 0
        fvals = vals[dmask]
        row_of = row_of[dmask]
        nd_row = np.bincount(row_of, minlength=N).astype(np.int64)
    else:
        fvals = vals
        nd_row = lens
    Tl = fvals.astype(np.int64)
    h_f = 360.0 * (Tl % K.HUE_MOD) / float(K.HUE_MOD)
    s_f = (Tl % K.SAT_MOD) / float(K.SAT_MOD)
    v_f = Tl / float(VOCAB_SIZE)
    g_f = (K.hist_bin_ids(h_f, s_f, v_f, cfg) if Tl.size
           else np.zeros(0, dtype=np.int64))
    hist_mat, ent_g = _hist_entropy_global(g_f, row_of, N, cfg)
    scal["hist_entropy"][:] = ent_g
    if timings is not None:
        timings["hist_s"] = timings.get("hist_s", 0.0) + (_pc() - _t0)
    _t0 = _pc()
    n_par, h_avg, s_avg, v_avg, pct = _palette_global(
        h_f, s_f, v_f, g_f, row_of, nd_row, hist_mat, cfg)
    n_cap = np.minimum(n_par, 100)              # features_row's [:100] cap
    vmask = np.arange(h_avg.shape[1])[None, :] < n_cap[:, None]
    pal_lens_g = n_cap
    pal_flat_g = [mat[vmask] for mat in (h_avg, s_avg, v_avg, pct)]
    if timings is not None:
        timings["palette_s"] = timings.get("palette_s", 0.0) + (_pc() - _t0)

    for n in np.unique(lens):
        idx = np.flatnonzero(lens == n)
        if n == 0:
            from .engine import features_row
            empty = features_row(np.array([], dtype=np.int32), cfg)
            for c in _SCALAR_COLS:
                scal[c][idx] = empty[c]
            hist_mat[idx] = np.asarray(empty["hist_counts"], dtype=np.int64)
            bands_mat[idx] = np.asarray(empty["spectrum_bands"])
            ac_mat[idx] = np.asarray(empty["autocorr"])
            bp_mat[idx] = np.asarray(empty["bandpass_energy"])
            continue
        T = vals[starts[idx][:, None] + np.arange(n)].astype(np.int32)
        gf = _group_features(T, cfg, timings)
        for c in ("rms_mean", "rms_std", "mean_norm_value", "sharpness_avg"):
            scal[c][idx] = gf[c]
        bands_mat[idx] = gf["spectrum_bands"]
        ac_mat[idx] = gf["autocorr"]
        bp_mat[idx] = gf["bandpass_energy"]
        rows_idx, ang, mag = gf["peaks_flat"]
        pk_rows.append(idx[rows_idx])
        pk_ang.append(ang)
        pk_mag.append(mag)

    out = {
        "rms_mean": pa.array(scal["rms_mean"]),
        "rms_std": pa.array(scal["rms_std"]),
        "mean_norm_value": pa.array(scal["mean_norm_value"]),
        "hist_counts": fixed_list(hist_mat),
        "hist_entropy": pa.array(scal["hist_entropy"]),
        "spectrum_bands": fixed_list(bands_mat),
        "autocorr": fixed_list(ac_mat),
        "bandpass_energy": fixed_list(bp_mat),
        "sharpness_avg": pa.array(scal["sharpness_avg"]),
    }

    # palette: the global pass emits flats already in row order
    hh, ss, vv, pp = pal_flat_g
    pal_struct = pa.StructArray.from_arrays(
        [pa.array(hh), pa.array(ss), pa.array(vv), pa.array(pp)],
        names=["h", "s", "v", "pct"])
    out["palette"] = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(pal_lens_g)])
                 .astype(np.int32), type=pa.int32()), pal_struct)

    # spectral peaks (capped at 10 inside _peaks_core). Stable sort by
    # target row restores row order; within-row order is preserved since
    # each row lives in exactly one group.
    if pk_rows:
        prow = np.concatenate(pk_rows)
        order = np.argsort(prow, kind="stable")
        pang = np.concatenate(pk_ang)[order]
        pmag = np.concatenate(pk_mag)[order]
        row_cnt = np.bincount(prow, minlength=N).astype(np.int64)
    else:
        row_cnt = np.zeros(N, dtype=np.int64)
        pang = np.zeros(0, dtype=np.int64)
        pmag = np.zeros(0)
    pk_struct = pa.StructArray.from_arrays(
        [pa.array(pang.astype(np.int32), type=pa.int32()), pa.array(pmag)],
        names=["angle", "magnitude"])
    out["spectral_peaks"] = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(row_cnt)])
                 .astype(np.int32), type=pa.int32()), pk_struct)

    # per-ROI sharpness (rare path; per-row python, as before)
    if rois_list is not None and any(rois_list):
        sharp = []
        for i, rois in enumerate(rois_list):
            if not rois:
                sharp.append([])
                continue
            x = vals[starts[i]:starts[i] + lens[i]].astype(np.float64) \
                / VOCAB_SIZE
            sharp.append([float(t) for t in K.sharpness_rois(x, rois)])
        out["sharpness"] = pa.array(sharp, type=pa.list_(pa.float64()))
    else:
        out["sharpness"] = fixed_list(np.zeros((N, 0)))
    return out
