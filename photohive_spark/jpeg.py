"""Pure-stdlib JPEG codec (numpy only) — the dominant real-corpus image
format, decodable without PIL just like png.py.

Decoder (jpeg_decode.py, re-exported here): baseline sequential
(SOF0/SOF1) AND progressive (SOF2) DCT, 8-bit, grayscale / YCbCr /
Adobe-RGB (APP14 transform=0), interleaved and non-interleaved scans,
arbitrary integer sampling factors (4:4:4 / 4:2:0 / 4:2:2), restart
markers, Huffman tables from the stream's own DHT segments. Entropy
decode is table-driven (16-bit-peek Huffman LUT over unstuffed restart
segments) with vectorized coefficient scatter, batched IDCT and block
placement — the per-SYMBOL Python loop is the only sequential part.
Arithmetic coding, 12-bit precision and CMYK raise ValueError — fail
loudly, never garbage pixels.

Encoders: baseline 4:4:4 (or grayscale) `encode_jpeg`, and progressive
`encode_jpeg_progressive` with a 5-scan script (DC first at Al=1, split
spectral AC first passes, AC refinement, DC refinement) that exercises
every Annex-G decode path. Both share ONE vectorized quantizer
(`_quantized_blocks` — batched DCT over all 8x8 blocks at once), so a
progressive and a baseline file of the same image carry IDENTICAL
quantized coefficients and must decode to IDENTICAL pixels — the
progressive decoder's correctness gate. Tables are EMITTED in DQT/DHT,
so round-trip correctness depends only on the marker/entropy logic, not
on matching Annex K constants; the decoder is additionally validated
against real JPEGs produced by external encoders (tests/test_jpeg.py).

Reference analog: the PIL ingest boundary (``utils.py:30-46``) accepted
any PIL-decodable format; png.decode_pixels sniffs JPEG by its magic
bytes so ``decode="real"`` covers it.

Scale note: decode runs inside Arrow-batched ``mapInArrow`` workers
(multimodal.py); per-image cost is the codec floor measured in
BENCH/BASELINE.md (bench.py --images), parallelism is per-row.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg_decode import ZIGZAG, _A, decode_jpeg   # noqa: F401 (re-export)

# base luminance/chrominance quant tables (the widely-published JPEG
# example tables; emitted in DQT, so exact values are a quality choice,
# not a compatibility requirement)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q * s + 50) // 100, 1, 255).astype(np.int32)


def _build_codes(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol, canonical JPEG assignment (encoder
    side inverts this into symbol -> (length, code))."""
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return codes


def _default_huff(kind: str) -> tuple[list[int], list[int]]:
    """Simple complete Huffman tables. Not optimal-length coding —
    emitted in DHT, so any complete prefix code is valid JPEG."""
    if kind == "dc":
        bits = [0] * 16
        vals = list(range(12))
        bits[3] = 12     # 12 DC size symbols, all code length 4 (2^4>=12)
        return bits, vals
    if kind == "ac":
        # baseline AC: every (run 0-15, size 1-10) symbol plus EOB (0x00)
        # and ZRL (0xF0) = 162 symbols, all code length 9 (2^9 >= 162)
        vals = []
        for r in range(16):
            for s in range(11):
                if s == 0 and r not in (0, 15):
                    continue
                vals.append((r << 4) | s)
        bits = [0] * 16
        bits[8] = len(vals)
        return bits, vals
    # progressive AC additionally needs the EOBn symbols (r<<4 for
    # r 0..14): 16*10 sizes + 15 EOBn + EOB0 + ZRL = 176 <= 2^9
    vals = [(r << 4) | s for r in range(16) for s in range(11)
            if s or r in (0, 15)]
    vals += [(r << 4) for r in range(1, 15)]
    bits = [0] * 16
    bits[8] = len(vals)
    return bits, vals


class _BitWriter:
    """MSB-first bit packer with JPEG 0xFF00 stuffing. The accumulator
    is masked to the undrained bits after every emit — without that it
    grows into an O(output) bigint and packing turns quadratic."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nb = 0

    def emit(self, ln: int, code: int) -> None:
        self.acc = (self.acc << ln) | (code & ((1 << ln) - 1))
        self.nb += ln
        while self.nb >= 8:
            self.nb -= 8
            byte = (self.acc >> self.nb) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nb) - 1

    def flush(self) -> None:
        """Byte-align with 1-bits (T.81 F.1.2.3)."""
        if self.nb:
            byte = ((self.acc << (8 - self.nb))
                    | ((1 << (8 - self.nb)) - 1)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nb = 0


def _mag_bits(v: int) -> tuple[int, int]:
    """signed value -> (size category, raw bits) per T.81 F.1.2.1/2:
    negatives are encoded as the one's complement of |v|."""
    t = 0 if v == 0 else int(v if v > 0 else -v).bit_length()
    raw = v if v >= 0 else v + (1 << t) - 1
    return t, raw


def _quantized_blocks(arr: np.ndarray, quality: int):
    """(H, W[, C]) uint8 -> per-component (n_blocks, 64) int32 quantized
    coefficients in ZIGZAG order (raster block order, edge-replicated
    padding), plus the emitted tables. ONE batched DCT over all blocks —
    shared by the baseline and progressive encoders so both carry
    bit-identical coefficients."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nc = a.shape
    if nc not in (1, 3):
        raise ValueError("encode_jpeg expects 1 or 3 channels")
    if not (1 <= h <= 65535 and 1 <= w <= 65535):
        raise ValueError(
            f"image dimensions {h}x{w} outside JPEG's 1..65535 range")
    ql = _quality_scale(_Q_LUMA, quality)
    qc = _quality_scale(_Q_CHROMA, quality)
    if nc == 3:
        rf = a[:, :, 0].astype(np.float64)
        gf = a[:, :, 1].astype(np.float64)
        bf = a[:, :, 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        planes = [(y, ql), (cb, qc), (cr, qc)]
    else:
        planes = [(a[:, :, 0].astype(np.float64), ql)]

    bh, bw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    out = []
    for plane, q in planes:
        p = np.empty((bh, bw))
        p[:h, :w] = plane
        p[h:, :w] = plane[-1:, :]
        p[:h, w:] = p[:h, w - 1:w]
        p[h:, w:] = p[h - 1, w - 1]
        blocks = p.reshape(bh // 8, 8, bw // 8, 8) \
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0
        coef = _A @ blocks @ _A.T
        zq = np.round(coef / q.astype(np.float64).reshape(8, 8)) \
            .astype(np.int32)
        out.append(zq.reshape(-1, 64)[:, ZIGZAG])
    return out, ql, qc, h, w, nc, bh // 8, bw // 8


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _dqt(tid: int, q: np.ndarray) -> bytes:
    # DQT stores the 64 values in ZIGZAG order (the base tables here
    # are raster matrices)
    return _seg(0xDB, bytes([tid])
                + bytes(int(q[ZIGZAG[i]]) for i in range(64)))


def _dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return _seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))


def _headers(sof_marker: int, h: int, w: int, nc: int,
             ql: np.ndarray, qc: np.ndarray) -> bytes:
    sof_comps = b""
    for ci in range(nc):
        sof_comps += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])   # 4:4:4
    sof = _seg(sof_marker, bytes([8]) + struct.pack(">HH", h, w)
               + bytes([nc]) + sof_comps)
    return (b"\xff\xd8" + _dqt(0, ql)
            + (_dqt(1, qc) if nc == 3 else b"") + sof)


def _emit_rst(bw: _BitWriter, n: int) -> None:
    """Byte-align and place the RSTn marker for restart interval n."""
    bw.flush()
    bw.buf.append(0xFF)
    bw.buf.append(0xD0 + (n % 8))


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                restart_interval: int = 0) -> bytes:
    """(H, W), (H, W, 1) or (H, W, 3) uint8 -> baseline JPEG bytes
    (4:4:4). ``restart_interval`` > 0 emits DRI + RSTn markers every
    that many MCUs (resetting DC predictors) — mainly so the decoder's
    restart machinery is testable from in-repo streams. Lossy:
    round-trip PSNR, not equality."""
    comps, ql, qc, h, w, nc, brows, bcols = _quantized_blocks(arr, quality)
    dc_bits, dc_vals = _default_huff("dc")
    ac_bits, ac_vals = _default_huff("ac")
    dc_codes = {v: k for k, v in _build_codes(dc_bits, dc_vals).items()}
    ac_codes = {v: k for k, v in _build_codes(ac_bits, ac_vals).items()}

    bw_ = _BitWriter()
    emit = bw_.emit
    # baseline multi-component scans are INTERLEAVED: each MCU (one 8x8
    # block per component at 4:4:4) carries Y, Cb, Cr in order; DC
    # predictors are per component
    preds = [0] * nc
    zzs = [c.tolist() for c in comps]       # python lists: fast scan loop
    for b in range(brows * bcols):
        if restart_interval and b and b % restart_interval == 0:
            _emit_rst(bw_, b // restart_interval - 1)
            preds = [0] * nc
        for ci in range(nc):
            zz = zzs[ci][b]
            diff = zz[0] - preds[ci]
            preds[ci] = zz[0]
            t, raw = _mag_bits(diff)
            ln, code = dc_codes[t]
            emit(ln, code)
            if t:
                emit(t, raw)
            k = 1
            run = 0
            for pos_ in range(1, 64):
                v = zz[pos_]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = ac_codes[0xF0]
                    emit(ln, code)
                    run -= 16
                t, raw = _mag_bits(v)
                ln, code = ac_codes[(run << 4) | t]
                emit(ln, code)
                emit(t, raw)
                run = 0
                k = pos_ + 1
            if k < 64:
                ln, code = ac_codes[0x00]   # EOB
                emit(ln, code)
    bw_.flush()

    sos_comps = b"".join(bytes([ci + 1, 0x00]) for ci in range(nc))
    sos = _seg(0xDA, bytes([nc]) + sos_comps + bytes([0, 63, 0]))
    dri = _seg(0xDD, struct.pack(">H", restart_interval)) \
        if restart_interval else b""
    return (_headers(0xC0, h, w, nc, ql, qc) + dri
            + _dht(0, 0, dc_bits, dc_vals) + _dht(1, 0, ac_bits, ac_vals)
            + sos + bytes(bw_.buf) + b"\xff\xd9")


class _ProgScanWriter:
    """Entropy writer for one progressive scan: buffers EOB runs and
    refinement correction bits exactly as T.81 G.1.2.2/3 requires (EOBn
    symbol + extra bits, THEN the buffered correction bits)."""

    def __init__(self, bw: _BitWriter, ac_codes: dict) -> None:
        self.bw = bw
        self.ac = ac_codes
        self.eobrun = 0
        self.corr: list[int] = []

    def flush_eobrun(self) -> None:
        if self.eobrun:
            n = self.eobrun
            nbits = n.bit_length() - 1
            ln, code = self.ac[nbits << 4]
            self.bw.emit(ln, code)
            if nbits:
                self.bw.emit(nbits, n - (1 << nbits))
            self.eobrun = 0
        for bit in self.corr:
            self.bw.emit(1, bit)
        self.corr = []


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 90,
                            restart_interval: int = 0) -> bytes:
    """(H, W[, C]) uint8 -> progressive (SOF2) JPEG, 4:4:4. Scan script:
    DC first (Al=1) -> split-band AC first passes at Al=1 (bands 1..5
    and 6..63) -> AC refinement (Ah=1 -> Al=0) on band 1..63 -> DC
    refinement — exercising DC first/refine, EOBn runs, ZRL-in-refine
    and correction bits: every Annex-G decode path.

    Same quantized coefficients as encode_jpeg (shared
    _quantized_blocks), so both files decode to IDENTICAL pixels.
    ``restart_interval`` > 0 places RSTn markers every that many MCUs in
    EVERY scan (DC predictors and EOB runs reset per segment) — the
    in-repo stream that pins the decoder's progressive restart paths."""
    comps, ql, qc, h, w, nc, brows, bcols = _quantized_blocks(arr, quality)
    dc_bits, dc_vals = _default_huff("dc")
    ac_bits, ac_vals = _default_huff("ac_prog")
    dc_codes = {v: k for k, v in _build_codes(dc_bits, dc_vals).items()}
    ac_codes = {v: k for k, v in _build_codes(ac_bits, ac_vals).items()}
    nb = brows * bcols
    zzs = [c.tolist() for c in comps]

    out = bytearray(_headers(0xC2, h, w, nc, ql, qc))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _dht(0, 0, dc_bits, dc_vals) + _dht(1, 0, ac_bits, ac_vals)
    ri = restart_interval

    def sos(scomps: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(scomps)])
        for ci in scomps:
            body += bytes([ci + 1, 0x00])
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    # --- scan 1: DC first, interleaved, Al=1 (arithmetic shift:
    # two's-complement successive approximation, T.81 G.1.2.1) ---
    out += sos(list(range(nc)), 0, 0, 0, 1)
    bw_ = _BitWriter()
    preds = [0] * nc
    for b in range(nb):
        if ri and b and b % ri == 0:
            _emit_rst(bw_, b // ri - 1)
            preds = [0] * nc
        for ci in range(nc):
            v = zzs[ci][b][0] >> 1
            diff = v - preds[ci]
            preds[ci] = v
            t, raw = _mag_bits(diff)
            ln, code = dc_codes[t]
            bw_.emit(ln, code)
            if t:
                bw_.emit(t, raw)
    bw_.flush()
    out += bw_.buf

    # --- AC first passes at Al=1 (point transform trunc(v/2)), split
    # into two spectral bands, one scan per component (progressive AC
    # scans must be non-interleaved); full precision arrives via the
    # Ah=1 -> Al=0 refinement scans below ---
    for ss, se in ((1, 5), (6, 63)):
        for ci in range(nc):
            out += sos([ci], ss, se, 0, 1)
            bw_ = _BitWriter()
            pw = _ProgScanWriter(bw_, ac_codes)
            zl = zzs[ci]
            for b in range(nb):
                if ri and b and b % ri == 0:
                    pw.flush_eobrun()
                    _emit_rst(bw_, b // ri - 1)
                zz = zl[b]
                run = 0
                for k in range(ss, se + 1):
                    v = zz[k]
                    t = (v >> 1) if v >= 0 else -((-v) >> 1)
                    if t == 0:
                        run += 1
                        continue
                    pw.flush_eobrun()
                    while run > 15:
                        ln, code = ac_codes[0xF0]
                        bw_.emit(ln, code)
                        run -= 16
                    t_, raw = _mag_bits(t)
                    ln, code = ac_codes[(run << 4) | t_]
                    bw_.emit(ln, code)
                    bw_.emit(t_, raw)
                    run = 0
                if run > 0:
                    pw.eobrun += 1
                    if pw.eobrun == 0x7FFF:
                        pw.flush_eobrun()
            pw.flush_eobrun()
            bw_.flush()
            out += bw_.buf

    # --- AC refinement: Ah=1 -> Al=0 over the full band (T.81 G.1.2.3:
    # newly-nonzero coefs as (run,1)+sign, already-nonzero coefs as
    # buffered correction bits, zero-history runs, EOBn) ---
    for ci in range(nc):
        out += sos([ci], 1, 63, 1, 0)
        bw_ = _BitWriter()
        pw = _ProgScanWriter(bw_, ac_codes)
        zl = zzs[ci]
        for b in range(nb):
            if ri and b and b % ri == 0:
                pw.flush_eobrun()
                _emit_rst(bw_, b // ri - 1)
            zz = zl[b]
            absv = [0] * 64
            eob = 0
            for k in range(1, 64):
                a_ = zz[k]
                if a_ < 0:
                    a_ = -a_
                absv[k] = a_
                if a_ == 1:
                    eob = k
            run = 0
            corr: list[int] = []
            for k in range(1, 64):
                temp = absv[k]
                if temp == 0:
                    run += 1
                    continue
                while run > 15 and k <= eob:
                    pw.flush_eobrun()
                    ln, code = ac_codes[0xF0]
                    bw_.emit(ln, code)
                    run -= 16
                    for bit in corr:
                        bw_.emit(1, bit)
                    corr = []
                if temp > 1:
                    corr.append(temp & 1)
                    continue
                pw.flush_eobrun()
                ln, code = ac_codes[(run << 4) | 1]
                bw_.emit(ln, code)
                bw_.emit(1, 1 if zz[k] > 0 else 0)
                for bit in corr:
                    bw_.emit(1, bit)
                corr = []
                run = 0
            if run > 0 or corr:
                pw.eobrun += 1
                pw.corr.extend(corr)
                if pw.eobrun == 0x7FFF:
                    pw.flush_eobrun()
        pw.flush_eobrun()
        bw_.flush()
        out += bw_.buf

    # --- DC refinement: Ah=1, Al=0, one raw bit per block ---
    out += sos(list(range(nc)), 0, 0, 1, 0)
    bw_ = _BitWriter()
    for b in range(nb):
        if ri and b and b % ri == 0:
            _emit_rst(bw_, b // ri - 1)
        for ci in range(nc):
            bw_.emit(1, zzs[ci][b][0] & 1)
    bw_.flush()
    out += bw_.buf

    out += b"\xff\xd9"
    return bytes(out)
