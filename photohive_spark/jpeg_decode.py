"""JPEG decoder: baseline (SOF0/SOF1) AND progressive (SOF2), 8-bit,
grayscale / YCbCr / Adobe-RGB, interleaved and non-interleaved scans,
restart markers, pure numpy + stdlib.

Entropy decode is TABLE-DRIVEN and window-precomputed, not
bit-at-a-time: the scan is split into restart segments, each segment
byte-unstuffed with one vectorized numpy pass, and the 16-bit lookahead
window at EVERY bit position is precomputed in one strided numpy pass
(`_windows`) — so the sequential symbol walk does ONE list index for the
Huffman LUT (entries packed as ``len<<8 | symbol``) and one more for
magnitude bits. Decoded coefficients are appended as single packed ints
(``index<<11 | value+1024``) and scattered into per-component arrays
with one fancy-index write per scan; dequantization, the batched 2-D
IDCT (``A.T @ blocks @ A`` over all blocks at once, float32) and block
placement (one reshape/transpose) are fully vectorized. Huffman LUTs
are cached across images keyed by the raw DHT payload — real corpora
overwhelmingly reuse the Annex-K tables.

Progressive streams follow T.81 Annex G: DC first/refinement scans
(two's-complement successive approximation), AC first scans with EOB
runs, and AC refinement with zero-history runs + correction bits.

Fail-loud contract: unsupported profiles (arithmetic coding, 12-bit,
CMYK, fractional chroma ratios), out-of-sequence restart markers,
truncated entropy data, out-of-range coefficients and malformed scan
headers all raise ValueError — never garbage pixels.

Reference analog: the PIL ingest boundary (``utils.py:30-46``) accepted
any PIL-decodable image; this module covers the two dominant real-corpus
JPEG profiles (baseline + progressive) without PIL.
"""

from __future__ import annotations

import struct

import numpy as np

from .png import check_pixels

ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# orthonormal 1-D DCT-II matrix; IDCT(B) = A.T @ B @ A
_A = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _A[_k, _n] = 0.5 * np.cos((2 * _n + 1) * _k * np.pi / 16.0)
_A[0, :] = 1.0 / (2.0 * np.sqrt(2.0))

_LUT_CACHE: dict[bytes, list] = {}


def _build_lut(spec: bytes) -> list:
    """Raw DHT table payload (1 counts+values blob, 17+n bytes) ->
    65536-entry packed LUT: lut[w16] = code_length << 8 | symbol for the
    code prefixing the 16-bit window w16, 0 = invalid window. Cached
    module-wide — corpora reuse the same (usually Annex K) tables, so
    per-image table builds amortize to a dict hit."""
    hit = _LUT_CACHE.get(spec)
    if hit is not None:
        return hit
    bits = list(spec[1:17])
    vals = list(spec[17:])
    lut = np.zeros(1 << 16, dtype=np.int64)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            if code >= (1 << ln):
                raise ValueError("overfull Huffman table in DHT")
            start = code << (16 - ln)
            span = 1 << (16 - ln)
            lut[start:start + span] = (ln << 8) | vals[k]
            k += 1
            code += 1
        code <<= 1
    out = lut.tolist()
    if len(_LUT_CACHE) > 64:      # stray per-image custom tables: bound
        _LUT_CACHE.clear()
    _LUT_CACHE[spec] = out
    return out


_FLUT_CACHE: dict[tuple, list] = {}


def _build_flut(spec: bytes, kind: str) -> list:
    """Packed LUT + magnitude FOLDED into the same 16-bit window, for
    the baseline fast path: when code_len + size <= 16 the window also
    contains the magnitude bits, so one lookup yields the fully decoded
    coefficient.

    AC entries (kind='ac'):  positive = advance<<16 | run<<12 | value+1024
    DC entries (kind='dc'):  positive = advance<<16 | diff+2048
    negative = -(advance<<2 | type): type 1 = EOB, 2 = ZRL,
    3 = fallback to the two-step path (size spills past the window);
    0 = invalid window."""
    key = (spec, kind)
    hit = _FLUT_CACHE.get(key)
    if hit is not None:
        return hit
    base = np.array(_build_lut(spec), dtype=np.int64)
    w = np.arange(1 << 16, dtype=np.int64)
    ln = base >> 8
    sym = base & 255
    s = sym & 15 if kind == "ac" else sym
    smax = 10 if kind == "ac" else 11
    # raw magnitude bits immediately after the code, read from the window
    shift = np.clip(16 - ln - s, 0, 16)
    raw = (w >> shift) & ((1 << np.minimum(s, 16)) - 1)
    ext = np.where(raw >> np.maximum(s - 1, 0) > 0, raw,
                   raw - (1 << np.minimum(s, 16)) + 1)
    ext = np.where(s == 0, 0, ext)
    if kind == "ac":
        ok = (ln > 0) & (s > 0) & (s <= smax) & (ln + s <= 16)
        e = ((ln + s) << 16) | ((sym >> 4) << 12) | (ext + 1024)
    else:
        ok = (ln > 0) & (s <= smax) & (ln + s <= 16)
        e = ((ln + s) << 16) | (ext + 2048)
    out = np.where(ok, e, 0)
    out = np.where((base == 0), 0, out)
    fallback = (base != 0) & ~ok
    out = np.where(fallback, -((ln << 2) | 3), out)
    if kind == "ac":
        # guard base != 0: an invalid window also has sym == 0, and
        # marking it EOB (with a 0-bit advance) would silently swallow
        # corrupt streams instead of raising — the fail-loud contract
        out = np.where((base != 0) & (sym == 0x00),
                       -((ln << 2) | 1), out)                  # EOB
        out = np.where((base != 0) & (sym == 0xF0),
                       -((ln << 2) | 2), out)                  # ZRL
    lst = out.tolist()
    if len(_FLUT_CACHE) > 64:
        _FLUT_CACHE.clear()
    _FLUT_CACHE[key] = lst
    return lst


def _windows(seg: bytes):
    """Unstuffed entropy bytes (already 0xFF-padded) -> uint16 window
    table W where W[bp] = the 16 bits starting at bit position bp. One
    strided numpy pass; returned as a memoryview — indexing a 'H'
    memoryview yields a plain int faster than an equivalent Python list
    (no per-element PyObject build, no pointer-chasing on access), so
    the scan loop does one cheap index per Huffman peek / magnitude
    read and construction is O(1) views instead of an 8N tolist."""
    a = np.frombuffer(seg, dtype=np.uint8).astype(np.uint32)
    A = (a[:-2] << 16) | (a[1:-1] << 8) | a[2:]
    W = np.empty((A.size, 8), dtype=np.uint16)
    for o in range(8):
        W[:, o] = ((A >> (8 - o)) & 0xFFFF).astype(np.uint16)
    return memoryview(W.reshape(-1))


def _split_entropy(data: bytes, pos: int):
    """Entropy-coded bytes starting at `pos` -> (segments, marker, mpos).

    segments: list of (unstuffed bytes + 4 pad 0xFF bytes, n_real_bits),
    one per restart interval, RSTn modulo-8 sequence numbers VALIDATED.
    marker: the non-RST marker byte terminating the scan (0xD9 implied at
    EOF); mpos: offset of its 0xFF (== len(data) when implied)."""
    arr = np.frombuffer(data, dtype=np.uint8)
    ffs = np.flatnonzero(arr[pos:] == 0xFF) + pos
    segs_raw = []
    start = pos
    n_rst = 0
    marker, mpos = 0xD9, len(data)
    for q in ffs.tolist():
        if q < start:                      # consumed by a previous marker
            continue
        nxt = data[q + 1] if q + 1 < len(data) else 0xD9
        if nxt == 0x00:                    # stuffed data byte
            continue
        if nxt == 0xFF:                    # fill byte before a marker
            continue
        if 0xD0 <= nxt <= 0xD7:            # restart marker
            if nxt != 0xD0 + (n_rst % 8):
                raise ValueError(
                    f"restart marker out of sequence: expected "
                    f"0xFF{0xD0 + (n_rst % 8):02X}, found 0xFF{nxt:02X}")
            segs_raw.append((start, q))
            n_rst += 1
            start = q + 2
            continue
        marker, mpos = nxt, q              # terminates the scan
        segs_raw.append((start, q))
        break
    else:
        segs_raw.append((start, len(data)))
    segs = []
    for s, e in segs_raw:
        while e > s and data[e - 1] == 0xFF:   # trailing marker fill
            e -= 1
        seg = arr[s:e]
        if seg.size:
            stuffed = np.flatnonzero((seg[:-1] == 0xFF)
                                     & (seg[1:] == 0x00)) + 1
            if stuffed.size:
                keep = np.ones(seg.size, dtype=bool)
                keep[stuffed] = False
                seg = seg[keep]
        raw = seg.tobytes()
        # pad with 1-bits so 16-bit peeks near the end never overrun;
        # consumption past n_real_bits is checked at segment close
        segs.append((raw + b"\xff\xff\xff\xff", len(raw) * 8))
    return segs, marker, mpos


def _check_seg_end(bp: int, nbits: int) -> None:
    if bp > nbits:
        raise ValueError("truncated entropy data")


def _scan_geom(frame: dict, scan: list[dict]):
    """(mcus_x, mcus_y, n_mcu, non_interleaved_grid) for this scan;
    single-component scans (T.81 A.2.2) are NON-interleaved: the MCU is
    one data unit and the grid is the component's own ceil'd block grid
    in raster order, IGNORING sampling factors."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    if len(scan) == 1:
        c = scan[0]
        cw = -(-(w * c["h"]) // hmax)       # component sample dims
        ch_ = -(-(h * c["v"]) // vmax)
        nb_cols = -(-cw // 8)               # ceil'd data-unit grid
        nb_rows = -(-ch_ // 8)
        return mcus_x, mcus_y, nb_cols * nb_rows, (nb_cols, nb_rows)
    return mcus_x, mcus_y, mcus_x * mcus_y, None


class _CoefStore:
    """Per-component zigzag-order coefficient planes, (n_blocks, 64)
    int32, padded to the interleaved MCU grid."""

    def __init__(self, frame, mcus_x, mcus_y):
        self.cols = {}
        self.rows = {}
        self.arr = {}
        for c in frame["comps"]:
            ci = c["id"]
            cols_b = mcus_x * c["h"]
            rows_b = mcus_y * c["v"]
            self.cols[ci] = cols_b
            self.rows[ci] = rows_b
            self.arr[ci] = np.zeros((rows_b * cols_b, 64), dtype=np.int32)


def _expected_segments(n_mcu: int, ri: int) -> int:
    return -(-n_mcu // ri) if ri else 1


def _get_luts(huff, scan, need_dc=True, need_ac=True):
    """huff maps (class, id) -> raw DHT payload; build (cached) packed
    LUTs for each scan component."""
    out = []
    for c in scan:
        dc = huff.get((0, c["dc"])) if need_dc else None
        ac = huff.get((1, c["ac"])) if need_ac else None
        if (need_dc and dc is None) or (need_ac and ac is None):
            raise ValueError("missing Huffman table for scan component")
        out.append((dc if dc is None else _build_lut(dc),
                    ac if ac is None else _build_lut(ac)))
    return out


def _scatter(flat: np.ndarray, packed: list, vbits: int) -> None:
    """packed ints (index << vbits | value + half) -> one fancy write."""
    if not packed:
        return
    arr = np.array(packed, dtype=np.int64)
    half = 1 << (vbits - 1)
    flat[arr >> vbits] = (arr & ((1 << vbits) - 1)) - half


def _decode_scan_baseline(data, pos, frame, scan, huff, ri, store):
    """Sequential-DCT scan (full DC+AC per block), interleaved or
    non-interleaved (ns==1). Hot path: one list index per Huffman peek
    via the precomputed window list, packed single-append coefficients,
    one vectorized scatter per component at scan end."""
    mcus_x, mcus_y, n_mcu, nb = _scan_geom(frame, scan)
    segs, marker, mpos = _split_entropy(data, pos)
    nseg = _expected_segments(n_mcu, ri)
    if len(segs) < nseg:
        raise ValueError("missing restart marker")
    if len(segs) > nseg:
        raise ValueError("unexpected restart marker in scan")
    luts = _get_luts(huff, scan)

    nsc = len(scan)
    dc_out: list[list] = [[] for _ in range(nsc)]
    ac_out: list[list] = [[] for _ in range(nsc)]
    fluts = []
    for c in scan:
        fluts.append((_build_flut(huff[(0, c["dc"])], "dc"),
                      _build_flut(huff[(1, c["ac"])], "ac")))
    # per-unit template with PRE-BOUND output appends — the scan loop
    # then touches only local tuples, no dict/attribute lookups.
    # Non-interleaved (ns==1): the MCU is ONE data unit regardless of
    # sampling factors (T.81 A.2.2), so exactly one template entry.
    units = []
    for si, c in enumerate(scan):
        cols_b = store.cols[c["id"]]
        blocks = [(0, 0)] if nb is not None else \
            [(by, bx) for by in range(c["v"]) for bx in range(c["h"])]
        for by, bx in blocks:
            units.append((si, fluts[si][0], fluts[si][1],
                          c["v"] * cols_b, c["h"],
                          by * cols_b + bx,
                          dc_out[si].append, ac_out[si].append,
                          luts[si][0], luts[si][1]))
    raster = nb is not None
    nb_cols = nb[0] if raster else 0
    cols_b0 = store.cols[scan[0]["id"]] if raster else 0

    preds = [0] * nsc
    seg_i = -1
    W: list = []
    nbits = 0
    bp = 0
    my = mx = 0
    for m in range(n_mcu):
        if m == 0 or (ri and m % ri == 0):
            if seg_i >= 0:
                _check_seg_end(bp, nbits)
            seg_i += 1
            d, nbits = segs[seg_i]
            W = _windows(d)
            bp = 0
            preds = [0] * nsc
        if raster:
            my, mx = divmod(m, nb_cols)
        else:
            my, mx = divmod(m, mcus_x)
        for si, dflut, aflut, rm, cm, off, dca, aca, dlut, alut in units:
            bi = my * cols_b0 + mx if raster else my * rm + mx * cm + off
            # --- DC: one folded lookup (code + magnitude in window) ---
            e = dflut[W[bp]]
            if e > 0:
                bp += e >> 16
                preds[si] += (e & 0xFFF) - 2048
            else:
                if e == 0:
                    raise ValueError(
                        "invalid Huffman code in entropy stream")
                t = dlut[W[bp]] & 255       # spilled-size slow path
                bp += (-e) >> 2
                if t > 11:
                    raise ValueError("DC size category > 11")
                v = W[bp] >> (16 - t)
                bp += t
                preds[si] += v if (v >> (t - 1)) else v - (1 << t) + 1
            p = preds[si]
            if not -2048 <= p <= 2047:
                raise ValueError("DC coefficient out of range")
            dca((bi << 18) | (p + 2048))
            # --- AC ---
            base = bi << 6
            k = 1
            while k < 64:
                e = aflut[W[bp]]
                if e > 0:                   # coefficient, fully decoded
                    bp += e >> 16
                    k += (e >> 12) & 15
                    if k > 63:
                        raise ValueError("AC run past block end")
                    aca(((base + k) << 11) | (e & 0xFFF))
                    k += 1
                    continue
                if e == 0:
                    raise ValueError(
                        "invalid Huffman code in entropy stream")
                te = -e
                typ = te & 3
                if typ == 2:                # ZRL: 16 zeros
                    bp += te >> 2
                    k += 16
                    continue
                if typ == 1:                # EOB
                    bp += te >> 2
                    break
                # fallback: size spills past the 16-bit window
                rs = alut[W[bp]] & 255
                bp += te >> 2
                s = rs & 15
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC run past block end")
                if s > 10:
                    raise ValueError("AC size category > 10")
                v = W[bp] >> (16 - s)
                bp += s
                aca(((base + k) << 11)
                    | ((v if (v >> (s - 1))
                        else v - (1 << s) + 1) + 1024))
                k += 1
    _check_seg_end(bp, nbits)
    for si, c in enumerate(scan):
        flat = store.arr[c["id"]].reshape(-1)
        if dc_out[si]:
            arr = np.array(dc_out[si], dtype=np.int64)
            flat[(arr >> 18) * 64] = (arr & 0x3FFFF) - 2048
        _scatter(flat, ac_out[si], 11)
    return marker, mpos


def _decode_scan_dc(data, pos, frame, scan, huff, ri, store, ah, al):
    """Progressive DC scan — first pass (Ah=0: diff decode, <<Al) or
    refinement (one correction bit per block, OR'd at 1<<Al; works in
    two's complement exactly like the arithmetic-shift encoder side)."""
    mcus_x, mcus_y, n_mcu, nb = _scan_geom(frame, scan)
    segs, marker, mpos = _split_entropy(data, pos)
    if len(segs) != _expected_segments(n_mcu, ri):
        raise ValueError("restart segment count mismatch in DC scan")
    luts = _get_luts(huff, scan, need_ac=False) if ah == 0 \
        else [(None, None)] * len(scan)
    units = []
    for si, c in enumerate(scan):
        cols_b = store.cols[c["id"]]
        blocks = [(0, 0)] if nb is not None else \
            [(by, bx) for by in range(c["v"]) for bx in range(c["h"])]
        for by, bx in blocks:
            units.append((si, luts[si][0], c["v"] * cols_b, c["h"],
                          by * cols_b + bx))
    raster = nb is not None
    nb_cols = nb[0] if raster else 0
    cols_b0 = store.cols[scan[0]["id"]] if raster else 0

    nsc = len(scan)
    preds = [0] * nsc
    out: list[list] = [[] for _ in range(nsc)]
    seg_i = -1
    W: list = []
    nbits = 0
    bp = 0
    for m in range(n_mcu):
        if m == 0 or (ri and m % ri == 0):
            if seg_i >= 0:
                _check_seg_end(bp, nbits)
            seg_i += 1
            d, nbits = segs[seg_i]
            W = _windows(d)
            bp = 0
            preds = [0] * nsc
        if raster:
            my, mx = divmod(m, nb_cols)
        else:
            my, mx = divmod(m, mcus_x)
        for si, dlut, rm, cm, off in units:
            bi = my * cols_b0 + mx if raster else my * rm + mx * cm + off
            if dlut is not None:            # first pass
                e = dlut[W[bp]]
                if e == 0:
                    raise ValueError(
                        "invalid Huffman code in entropy stream")
                t = e & 255
                bp += e >> 8
                if t:
                    if t > 11:
                        raise ValueError("DC size category > 11")
                    v = W[bp] >> (16 - t)
                    bp += t
                    preds[si] += (v if (v >> (t - 1))
                                  else v - (1 << t) + 1)
                p = preds[si]
                if not -2048 <= p <= 2047:
                    raise ValueError("DC coefficient out of range")
                # store p UNshifted (p<<Al could overflow the 12-bit
                # field); the scatter below applies << Al
                out[si].append((bi << 12) | (p + 2048))
            else:                           # refinement: 1 raw bit
                if W[bp] >> 15:
                    out[si].append(bi)
                bp += 1
    _check_seg_end(bp, nbits)
    for si, c in enumerate(scan):
        flat = store.arr[c["id"]].reshape(-1)
        if not out[si]:
            continue
        arr = np.array(out[si], dtype=np.int64)
        if ah == 0:
            flat[(arr >> 12) * 64] = ((arr & 0xFFF) - 2048) << al
        else:
            flat[arr * 64] |= np.int32(1 << al)
    return marker, mpos


def _decode_scan_ac_first(data, pos, frame, scan, huff, ri, store,
                          ss, se, al):
    """Progressive AC first pass (Ah=0): run/size coding within the
    spectral band Ss..Se plus EOBn end-of-band runs (T.81 G.2.2)."""
    c = scan[0]
    mcus_x, mcus_y, n_mcu, nb = _scan_geom(frame, scan)
    segs, marker, mpos = _split_entropy(data, pos)
    if len(segs) != _expected_segments(n_mcu, ri):
        raise ValueError("restart segment count mismatch in AC scan")
    alut = _get_luts(huff, scan, need_dc=False)[0][1]
    cols_b = store.cols[c["id"]]
    nb_cols = nb[0]
    apk: list = []
    eobrun = 0
    seg_i = -1
    W: list = []
    nbits = 0
    bp = 0
    for m in range(n_mcu):
        if m == 0 or (ri and m % ri == 0):
            if seg_i >= 0:
                _check_seg_end(bp, nbits)
            seg_i += 1
            d, nbits = segs[seg_i]
            W = _windows(d)
            bp = 0
            eobrun = 0
        if eobrun:
            eobrun -= 1
            continue
        base = ((m // nb_cols) * cols_b + m % nb_cols) << 6
        k = ss
        while k <= se:
            e = alut[W[bp]]
            if e == 0:
                raise ValueError("invalid Huffman code in entropy stream")
            rs = e & 255
            bp += e >> 8
            r = rs >> 4
            s = rs & 15
            if s == 0:
                if r == 15:                 # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1       # this block ends here
                if r:
                    eobrun += W[bp] >> (16 - r)
                    bp += r
                break
            k += r
            if k > se:
                raise ValueError("AC run past spectral band end")
            if s > 10:
                raise ValueError("AC size category > 10")
            v = W[bp] >> (16 - s)
            bp += s
            # store UNshifted (v<<Al could overflow the 11-bit field);
            # the scatter applies << Al
            apk.append(((base + k) << 11)
                       | ((v if (v >> (s - 1))
                           else v - (1 << s) + 1) + 1024))
            k += 1
    _check_seg_end(bp, nbits)
    if apk:
        flat = store.arr[c["id"]].reshape(-1)
        arr = np.array(apk, dtype=np.int64)
        flat[arr >> 11] = ((arr & 0x7FF) - 1024) << al
    return marker, mpos


def _decode_scan_ac_refine(data, pos, frame, scan, huff, ri, store,
                           ss, se, al):
    """Progressive AC refinement (Ah=Al+1): zero-history runs place newly
    nonzero +-1<<Al coefficients; every already-nonzero coefficient
    visited on the way (and all of them inside EOB runs) consumes a
    correction bit, applied only when its 1<<Al bit is still clear
    (T.81 G.2.2 / the standard libjpeg-documented algorithm)."""
    c = scan[0]
    mcus_x, mcus_y, n_mcu, nb = _scan_geom(frame, scan)
    segs, marker, mpos = _split_entropy(data, pos)
    if len(segs) != _expected_segments(n_mcu, ri):
        raise ValueError("restart segment count mismatch in AC scan")
    alut = _get_luts(huff, scan, need_dc=False)[0][1]
    cols_b = store.cols[c["id"]]
    nb_cols = nb[0]
    arr2 = store.arr[c["id"]]
    flat = arr2.reshape(-1)
    p1 = 1 << al
    m1 = -p1
    # Each block is visited exactly once per scan, so the coefficients a
    # block sees at visit time EQUAL the scan-start state — precompute
    # every block's nonzero band positions/values in one vectorized pass
    # instead of up to 63 numpy scalar reads per block (those reads
    # dominated smooth-image EOB runs).
    sub = arr2[:, ss:se + 1]
    nzr, nzc = np.nonzero(sub)
    ks_all = (nzc + ss).tolist()
    vals_np = sub[nzr, nzc]
    vals_all = vals_np.tolist()
    # per-nonzero flat store address / still-clear mask / signed step:
    # inside an EOB run every nonzero-history coefficient consumes one
    # correction bit and its update depends only on that bit and the
    # scan-start state, so whole runs apply as one vectorized gather
    addr_np = nzr.astype(np.int64) * 64 + (nzc + ss)
    clear_np = (vals_np & p1) == 0
    inc_np = np.where(vals_np > 0, p1, m1).astype(vals_np.dtype)
    split_np = np.searchsorted(nzr, np.arange(arr2.shape[0] + 1))
    split = split_np.tolist()
    addr_all = addr_np.tolist()
    eobrun = 0
    seg_i = -1
    W: list = []
    B = None                    # per-segment bit array (B[i] = bit i)
    nbits = 0
    bp = 0
    m = 0
    while m < n_mcu:
        if m == 0 or (ri and m % ri == 0):
            if seg_i >= 0:
                _check_seg_end(bp, nbits)
            seg_i += 1
            d, nbits = segs[seg_i]
            W = _windows(d)
            B = np.unpackbits(np.frombuffer(d, dtype=np.uint8))
            bp = 0
            eobrun = 0
        r_, c_ = divmod(m, nb_cols)
        bi = r_ * cols_b + c_
        base = bi * 64
        ptr = split[bi]
        ptr_end = split[bi + 1]
        if eobrun:
            # blocks [m, end) are fully covered by the run (capped at
            # the restart boundary, where the original per-block loop
            # would reset eobrun anyway); padding blocks between rows
            # have empty nonzero ranges, so [t0, t1) is exactly the
            # run's coefficient span in visit order
            bound = (m // ri + 1) * ri if ri else n_mcu
            end = min(m + eobrun, n_mcu, bound)
            r2, c2 = divmod(end - 1, nb_cols)
            t0 = ptr
            t1 = split[r2 * cols_b + c2 + 1]
            T = t1 - t0
            if T >= 32:
                bits = B[bp:bp + T].view(bool)
                upd = bits & clear_np[t0:t1]
                if upd.any():
                    flat[addr_np[t0:t1][upd]] = \
                        vals_np[t0:t1][upd] + inc_np[t0:t1][upd]
                bp += T
            else:
                for t in range(t0, t1):
                    if W[bp] >> 15:
                        cv = vals_all[t]
                        if not (cv & p1):
                            flat[addr_all[t]] = cv + (p1 if cv > 0
                                                      else m1)
                    bp += 1
            eobrun -= end - m
            m = end
            continue
        k = ss
        while k <= se:
            e = alut[W[bp]]
            if e == 0:
                raise ValueError("invalid Huffman code in entropy stream")
            rs = e & 255
            bp += e >> 8
            r = rs >> 4
            s = rs & 15
            if s == 0 and r != 15:          # EOBn: refine rest, set run
                eobrun = (1 << r) - 1
                if r:
                    eobrun += W[bp] >> (16 - r)
                    bp += r
                for t in range(ptr, ptr_end):
                    if ks_all[t] < k:
                        continue
                    if W[bp] >> 15:
                        cv = vals_all[t]
                        if not (cv & p1):
                            flat[base + ks_all[t]] = cv + (p1 if cv > 0
                                                           else m1)
                    bp += 1
                break
            if s == 0:                      # ZRL: 16 zero-history coefs
                newval = 0
            else:
                if s != 1:
                    raise ValueError(
                        "AC refinement symbol with size != 1")
                newval = p1 if W[bp] >> 15 else m1
                bp += 1
            while k <= se:
                if ptr < ptr_end and ks_all[ptr] == k:  # nonzero history
                    if W[bp] >> 15:
                        cv = vals_all[ptr]
                        if not (cv & p1):
                            flat[base + k] = cv + (p1 if cv > 0 else m1)
                    bp += 1
                    ptr += 1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("AC refinement run past band end")
                flat[base + k] = newval
            k += 1
        m += 1
    _check_seg_end(bp, nbits)
    return marker, mpos


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes -> (H, W, C) uint8, C = 1 (gray) or 3 (RGB)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], list] = {}    # (class, id) -> packed LUT
    frame = None
    store = None
    progressive = False
    restart_interval = 0
    adobe_transform = None
    scanned_dc: set = set()
    scanned_all: set = set()
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1                        # fill bytes (T.81 B.1.1.2)
        marker = data[pos + 1]
        if marker == 0xD9:                  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(data):
            raise ValueError("truncated marker segment")
        (seg_len,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seg_len]
        pos_next = pos + 2 + seg_len
        if marker == 0xDB:                  # DQT
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                i += 1
                if prec == 0:
                    tbl = np.frombuffer(body[i:i + 64], dtype=np.uint8) \
                        .astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(body[i:i + 128], dtype=">u2") \
                        .astype(np.int32)
                    i += 128
                qt[tid] = tbl
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog.
            if frame is not None:
                raise ValueError("multiple SOF markers")
            progressive = marker == 0xC2
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), \
                body[5]
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            check_pixels(w, h, "JPEG")
            if nc not in (1, 3):
                raise ValueError(
                    f"unsupported component count {nc} (grayscale or "
                    f"YCbCr only — CMYK/YCCK would decode as garbage)")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                hs, vs = samp >> 4, samp & 0x0F
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError(f"bad sampling factors {hs}x{vs}")
                comps.append({"id": cid, "h": hs, "v": vs, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            store = _CoefStore(frame, -(-w // (8 * hmax)),
                               -(-h // (8 * vmax)))
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0/SOF1) and progressive (SOF2) "
                f"Huffman JPEG is supported (got SOF 0xFF{marker:02X} — "
                "lossless/hierarchical/arithmetic)")
        elif marker == 0xC4:                # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                n = sum(body[i + 1:i + 17])
                # store the raw payload; packed/folded LUTs are built
                # lazily per scan through the module caches
                huff[(tc, th)] = bytes(body[i:i + 17 + n])
                i += 17 + n
        elif marker == 0xDD:                # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xEE:                # APP14 (Adobe)
            if body[:5] == b"Adobe" and len(body) >= 12:
                adobe_transform = body[11]
        elif marker == 0xDA:                # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tds = body[1 + 2 * c], body[2 + 2 * c]
                comp = next((x for x in frame["comps"] if x["id"] == cs),
                            None)
                if comp is None:
                    raise ValueError(
                        f"SOS references component id {cs} absent from "
                        f"SOF")
                scan.append({**comp, "dc": tds >> 4, "ac": tds & 0x0F})
            ss_, se_, ahl = body[1 + 2 * ns:4 + 2 * ns]
            ah, al = ahl >> 4, ahl & 0x0F
            for c in scan:
                if c["tq"] not in qt:
                    raise ValueError(f"missing quant table {c['tq']}")
            try:
                if not progressive:
                    if (ss_, se_, ah, al) != (0, 63, 0, 0):
                        raise ValueError(
                            "baseline scan must cover Ss=0..Se=63 with "
                            f"Ah=Al=0 (got {ss_},{se_},{ah},{al})")
                    marker, pos_next = _decode_scan_baseline(
                        data, pos_next, frame, scan, huff,
                        restart_interval, store)
                    for c in scan:
                        scanned_dc.add(c["id"])
                        scanned_all.add(c["id"])
                elif ss_ == 0:              # progressive DC scan
                    if se_ != 0:
                        raise ValueError(
                            "invalid progressive scan header: Ss=0 (DC) "
                            f"requires Se=0, got Se={se_} — a baseline-"
                            "shaped scan inside a progressive frame")
                    if ah and ah != al + 1:
                        raise ValueError(
                            f"successive approximation must step one "
                            f"bit (Ah={ah}, Al={al})")
                    marker, pos_next = _decode_scan_dc(
                        data, pos_next, frame, scan, huff,
                        restart_interval, store, ah, al)
                    if ah == 0:
                        for c in scan:
                            scanned_dc.add(c["id"])
                else:                       # progressive AC scan
                    if ns != 1:
                        raise ValueError(
                            "progressive AC scans must be non-"
                            f"interleaved (ns=1), got ns={ns}")
                    if not (ss_ <= se_ <= 63):
                        raise ValueError(
                            f"bad spectral band Ss={ss_} Se={se_}")
                    if ah == 0:
                        marker, pos_next = _decode_scan_ac_first(
                            data, pos_next, frame, scan, huff,
                            restart_interval, store, ss_, se_, al)
                    elif ah == al + 1:
                        marker, pos_next = _decode_scan_ac_refine(
                            data, pos_next, frame, scan, huff,
                            restart_interval, store, ss_, se_, al)
                    else:
                        raise ValueError(
                            f"successive approximation must step one "
                            f"bit (Ah={ah}, Al={al})")
                    scanned_all.add(scan[0]["id"])
            except IndexError:
                # a corrupt stream can out-run the pad bytes before the
                # per-segment bit-count check fires — keep it ValueError
                raise ValueError("truncated entropy data") from None
            if marker == 0xD9:
                break
            pos = pos_next
            continue
        pos = pos_next
    if frame is None:
        raise ValueError("no SOF marker found")
    need = {c["id"] for c in frame["comps"]}
    if progressive:
        if scanned_dc != need:
            raise ValueError("progressive stream missing a DC scan for "
                             "some component")
    elif scanned_all != need:
        raise ValueError("no SOS marker found for some component")
    return _finalize(frame, store, qt, adobe_transform)


def _finalize(frame, store, qt, adobe_transform):
    """Dequantize + batched IDCT + placement + chroma upsample + color
    transform — all vectorized over every block at once, float32 (the
    DCT value range ~2^11 leaves f32 with ~2^-13 absolute slack, far
    inside the +-0.5 quantization floor)."""
    h, w = frame["h"], frame["w"]
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    a32 = _A.astype(np.float32)
    planes = []
    for c in comps:
        cid = c["id"]
        coef = store.arr[cid]
        nbk = coef.shape[0]
        q = qt[c["tq"]]
        nat = np.zeros((nbk, 64), dtype=np.float32)
        nat[:, ZIGZAG] = (coef * q[np.newaxis, :]).astype(np.float32)
        px = a32.T @ nat.reshape(nbk, 8, 8) @ a32
        px += np.float32(128.0)
        rows_b, cols_b = store.rows[cid], store.cols[cid]
        p = px.reshape(rows_b, cols_b, 8, 8).transpose(0, 2, 1, 3) \
            .reshape(rows_b * 8, cols_b * 8)
        if c["h"] < hmax or c["v"] < vmax:
            if hmax % c["h"] or vmax % c["v"]:
                raise ValueError(
                    f"fractional chroma upsampling {c['h']}x{c['v']} vs "
                    f"{hmax}x{vmax} unsupported")
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        out = np.rint(planes[0], out=planes[0])
        np.clip(out, 0, 255, out=out)
        return out.astype(np.uint8)[:, :, None]
    if adobe_transform == 0:
        # Adobe APP14 transform=0: components are literal RGB — applying
        # the YCbCr matrix here would silently decode wrong colors
        rgb = np.stack(planes, axis=2)
    else:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        rgb = np.empty((y.shape[0], y.shape[1], 3), dtype=np.float32)
        rgb[:, :, 0] = y + 1.402 * cr
        rgb[:, :, 1] = y - 0.344136 * cb - 0.714136 * cr
        rgb[:, :, 2] = y + 1.772 * cb
    np.rint(rgb, out=rgb)
    np.clip(rgb, 0, 255, out=rgb)
    return rgb.astype(np.uint8)
