"""Pure-stdlib BMP decoder (numpy only) — the uncompressed Windows
bitmap profile: BITMAPINFOHEADER/V4/V5, bottom-up or top-down,
8-bit palette, 24/32-bit BI_RGB, and BI_BITFIELDS with arbitrary
channel masks (the profile CPython's own test fixture uses). RLE and
other compressions raise ValueError — fail loudly, never garbage
pixels. A minimal 24-bit writer exists for in-repo round trips.

Fully vectorized: one frombuffer + reshape per image (BMP stores raw
rows), so decode cost is memcpy-bound — the cheapest real format the
engine ingests.
"""

from __future__ import annotations

import struct

import numpy as np

from .png import check_pixels


def _mask_shift(mask: int) -> tuple[int, int]:
    """(right shift, value span) extracting a channel from its mask."""
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    return shift, mask >> shift


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> (H, W, 3) uint8 RGB."""
    try:
        return _decode_bmp(data)
    except (struct.error, IndexError) as e:
        raise ValueError(f"truncated BMP stream: {e}") from None


def _decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP: missing BM signature")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (dib,) = struct.unpack("<I", data[14:18])
    if dib < 40:
        raise ValueError(f"unsupported DIB header size {dib}")
    w, h_raw = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (comp,) = struct.unpack("<I", data[30:34])
    if w <= 0 or h_raw == 0:
        raise ValueError("bad BMP dimensions")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    check_pixels(w, h, "BMP")
    if comp == 3:                        # BI_BITFIELDS
        # masks sit at offset 54 both for BITMAPINFOHEADER (appended
        # right after the 40-byte header) and V4/V5 (embedded fields)
        masks = struct.unpack("<3I", data[54:66])
    elif comp == 0:                      # BI_RGB
        masks = None
    else:
        raise ValueError(
            f"unsupported BMP compression {comp} (BI_RGB and "
            "BI_BITFIELDS only — RLE would decode as garbage)")

    stride = (w * bpp // 8 + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8,
                        count=stride * h, offset=pix_off)
    rows = raw.reshape(h, stride)
    if not top_down:
        rows = rows[::-1]

    if bpp == 8:
        (n_colors,) = struct.unpack("<I", data[46:50])
        n_colors = n_colors or 256
        pal_off = 14 + dib
        pal = np.frombuffer(data, dtype=np.uint8, count=4 * n_colors,
                            offset=pal_off).reshape(n_colors, 4)
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP pixel index beyond palette")
        return np.ascontiguousarray(pal[idx][:, :, [2, 1, 0]])  # BGRA
    if bpp == 24:
        px = rows[:, :w * 3].reshape(h, w, 3)
        return np.ascontiguousarray(px[:, :, ::-1])             # BGR
    if bpp == 32:
        px32 = rows[:, :w * 4].reshape(h, w, 4)
        if masks is None:                # BI_RGB 32: BGRX
            return np.ascontiguousarray(px32[:, :, [2, 1, 0]])
        vals = px32.astype(np.uint32)
        word = (vals[:, :, 0] | (vals[:, :, 1] << 8)
                | (vals[:, :, 2] << 16) | (vals[:, :, 3] << 24))
        out = np.empty((h, w, 3), dtype=np.uint8)
        for ci, mask in enumerate(masks):
            shift, span = _mask_shift(mask)
            if span == 0:
                out[:, :, ci] = 0
                continue
            ch = (word >> shift) & span
            out[:, :, ci] = (ch * 255 // span).astype(np.uint8)
        return out
    raise ValueError(f"unsupported BMP bit depth {bpp}")


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) or (H, W) uint8 -> 24-bit bottom-up BI_RGB BMP."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.stack([a] * 3, axis=2)
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)     # BGR, bottom-up
    body = rows.tobytes()
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                      len(body), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
    return hdr + dib + body
