"""Pure-stdlib GIF codec (numpy only) — the third common real-corpus
image format, completing the web-image ingest trio (PNG, JPEG, GIF).

Decoder: GIF87a/GIF89a, global + local color tables, variable-width LZW
with dictionary growth and CLEAR/EOI handling, 4-pass GIF interlacing,
graphic-control transparency, and multi-frame animations with disposal
methods 0-3 (composited onto the logical screen the way a viewer shows
them). Malformed streams raise ValueError — fail loudly, never garbage
pixels.

Encoder: real dictionary-based LZW (code width grows 3..12 bits, CLEAR
on a full table), static or animated, so every decoder path — including
dictionary growth and the deferred-clear edge — is round-trip-testable
in-repo; additionally validated against real GIFs on this system
(libxslt docs, CPython's imghdrdata logo — the same image as the
python.png/python.jpg fixtures, enabling a three-codec agreement test).

Reference analog: the PIL ingest boundary (``utils.py:30-46``) accepted
GIFs like any PIL format; png.decode_pixels sniffs GIF by its magic
bytes and takes the first frame, and video.decode_sampled_frames samples
an animation's frames, so ``decode="real"`` covers GIF transparently.

Scale note: LZW is inherently sequential per frame (a per-code Python
loop, like JPEG's Huffman walk); GIFs in real corpora are small, and
decode runs inside Arrow-batched ``mapInArrow`` workers.
"""

from __future__ import annotations

import struct

import numpy as np

from .png import check_pixels

# GIF interlace passes: (row_start, row_step)
_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _color_table(data: bytes, pos: int, flags: int) -> tuple:
    if not flags & 0x80:
        return None, pos
    n = 2 << (flags & 0x07)
    tbl = np.frombuffer(data[pos:pos + 3 * n], dtype=np.uint8)
    if tbl.size != 3 * n:
        raise ValueError("truncated color table")
    return tbl.reshape(n, 3), pos + 3 * n


def _subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF data sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(out), pos
        out.append(data[pos:pos + n])
        if len(out[-1]) != n:
            raise ValueError("truncated GIF data sub-blocks")
        pos += n


def _lzw_decode(data: bytes, min_code: int, n_expect: int) -> np.ndarray:
    """GIF LZW -> index stream of n_expect pixels. Variable code width,
    dictionary growth to 4096, CLEAR resets, EOI terminates."""
    if not (2 <= min_code <= 11):
        raise ValueError(f"bad LZW minimum code size {min_code}")
    clear = 1 << min_code
    eoi = clear + 1
    # bit reader: LSB-first (GIF packs codes little-endian)
    out = np.empty(n_expect, dtype=np.uint16)
    n_out = 0
    acc = 0
    nbits = 0
    pos = 0
    width = min_code + 1
    # dictionary: every compound entry's expansion is a SPAN of output
    # already emitted — entry next_code = prev_str + first(cur_str),
    # and prev_str / cur_str were emitted back-to-back, so the span
    # out[prev_pos : prev_pos + prev_len + 1] is contiguous. Expansion
    # is then one numpy slice copy instead of a per-byte prefix-chain
    # walk + reversed list build (the LZW chain walk dominated GIF
    # decode at ~1 us/pixel).
    start = [0] * 4096
    length = [0] * 4096
    next_code = eoi + 1
    prev = -1
    prev_pos = 0
    prev_len = 0
    n = len(data)
    while n_out < n_expect:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            next_code = eoi + 1
            width = min_code + 1
            prev = -1
            continue
        if code == eoi:
            break
        cur_pos = n_out
        if prev < 0:                # first code after clear: a root
            if code >= clear:
                raise ValueError("LZW stream starts with non-root code")
            out[n_out] = code
            n_out += 1
            prev = code
            prev_pos = cur_pos
            prev_len = 1
            continue
        if code < clear:            # root: single pixel
            cl = 1
            out[n_out] = code
            n_out += 1
        elif eoi < code < next_code:        # known entry: span copy
            s0 = start[code]
            cl = length[code]
            take = min(cl, n_expect - n_out)
            out[n_out:n_out + take] = out[s0:s0 + take]
            n_out += take
        elif code == next_code:     # KwKwK: prev_str + first(prev_str)
            cl = prev_len + 1
            take = min(cl, n_expect - n_out)
            t0 = min(prev_len, take)
            out[n_out:n_out + t0] = out[prev_pos:prev_pos + t0]
            if take > prev_len:
                out[n_out + prev_len] = out[prev_pos]
            n_out += take
        else:
            raise ValueError("LZW code beyond dictionary")
        if next_code < 4096:
            start[next_code] = prev_pos
            length[next_code] = prev_len + 1
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
        prev_pos = cur_pos
        prev_len = cl
    if n_out < n_expect:
        raise ValueError(
            f"LZW stream ended after {n_out} of {n_expect} pixels")
    return out


def _walk(data: bytes):
    """Walk a GIF's blocks without decoding any LZW: yields the logical
    screen ``(w, h, background RGB)`` first, then one ``(descriptor,
    color table, min_code, LZW stream, graphic control)`` per image in
    stream order, where descriptor = (ix, iy, iw, ih, interlaced) and
    graphic control = (disposal, delay_ms, transparent index or None)."""
    try:
        if data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("not a GIF: bad signature")
        w, h = struct.unpack("<HH", data[6:10])
        if w == 0 or h == 0:
            raise ValueError("zero-dimension GIF")
        check_pixels(w, h, "GIF")
        flags, bg_idx = data[10], data[11]
        gct, pos = _color_table(data, 13, flags)
        yield w, h, (gct[bg_idx] if gct is not None and bg_idx < len(gct)
                     else np.zeros(3, dtype=np.uint8))
        control = (0, 0, None)
        n_images = 0
        while pos < len(data):
            b = data[pos]
            if b == 0x3B:               # trailer
                break
            if b == 0x21:               # extension
                if data[pos + 1] == 0xF9:   # graphic control
                    n = data[pos + 2]
                    body = data[pos + 3:pos + 3 + n]
                    packed = body[0]
                    control = ((packed >> 2) & 0x07,
                               struct.unpack("<H", body[1:3])[0] * 10,
                               body[3] if packed & 0x01 else None)
                    pos += 3 + n
                    if data[pos] != 0:
                        raise ValueError("unterminated graphic control block")
                    pos += 1
                else:                   # application/comment/plain text
                    _, pos = _subblocks(data, pos + 2)
                continue
            if b != 0x2C:
                raise ValueError(f"unexpected GIF block 0x{b:02X}")
            ix, iy, iw, ih = struct.unpack("<4H", data[pos + 1:pos + 9])
            iflags = data[pos + 9]
            lct, pos2 = _color_table(data, pos + 10, iflags)
            table = lct if lct is not None else gct
            if table is None:
                raise ValueError("GIF frame without any color table")
            if ix + iw > w or iy + ih > h:
                raise ValueError("GIF frame exceeds logical screen")
            min_code = data[pos2]
            stream, pos = _subblocks(data, pos2 + 1)
            yield ((ix, iy, iw, ih, bool(iflags & 0x40)), table,
                   min_code, stream, control)
            n_images += 1
            control = (0, 0, None)
        if not n_images:
            raise ValueError("GIF contains no image frames")
    except (struct.error, IndexError) as e:
        # fail-loud contract: truncated headers/descriptors surface as
        # ValueError like every other malformed-stream path
        raise ValueError(f"truncated GIF stream: {e}") from None


def _paint(region: np.ndarray, table: np.ndarray, min_code: int,
           stream: bytes, interlaced: bool, transparent) -> None:
    """LZW-decode one image into its screen region (a view), keeping the
    region's pixels wherever the image is transparent."""
    ih, iw = region.shape[:2]
    idx = _lzw_decode(stream, min_code, iw * ih)
    if int(idx.max(initial=0)) >= len(table):
        raise ValueError("GIF pixel index beyond color table")
    rows = idx.reshape(ih, iw)
    if interlaced:                  # 4-pass GIF interlace
        deint = np.empty_like(rows)
        r = 0
        for start, step in _PASSES:
            nrows = len(range(start, ih, step))
            deint[start::step] = rows[r:r + nrows]
            r += nrows
        rows = deint
    # one channel at a time: the gather's temporary is 1 byte a pixel
    opaque = True if transparent is None else rows != transparent
    for c in range(3):
        np.copyto(region[:, :, c], table[rows, c], where=opaque)


def iter_frames(data: bytes):
    """GIF bytes -> yields ``(screen, delay_ms)`` per image: the (H, W, 3)
    uint8 logical screen with that image composited on, i.e. what a
    viewer displays. ``screen`` is ONE buffer that the next frame's
    disposal and painting overwrite, so copy it to keep it; a consumer
    that stops early decodes no later frame."""
    blocks = _walk(data)
    w, h, bg_rgb = next(blocks)
    screen = np.full((h, w, 3), bg_rgb, dtype=np.uint8)
    for (ix, iy, iw, ih, interlaced), table, min_code, stream, \
            (disposal, delay_ms, transparent) in blocks:
        region = screen[iy:iy + ih, ix:ix + iw]
        prev_region = region.copy() if disposal == 3 else None
        _paint(region, table, min_code, stream, interlaced, transparent)
        yield screen, delay_ms
        if disposal == 2:
            # Restore-to-background POLICY: the region is always reset
            # to the logical-screen background COLOR, including for
            # GIF89a streams that use transparency. The spec says
            # "background color"; common renderers (browsers) instead
            # restore to TRANSPARENT there, leaving the page visible.
            # This decoder composites onto an opaque RGB canvas with no
            # alpha channel, so the background color IS the stand-in
            # for "transparent" — a deliberate, documented divergence:
            # frames following a disposal-2 + transparency frame can
            # differ from a browser's compositing wherever the browser
            # would have shown underlying page content.
            region[...] = bg_rgb
        elif disposal == 3:         # restore to previous
            region[...] = prev_region


def count_frames(data: bytes) -> int:
    """Number of images in a GIF, from a block walk that decodes no
    LZW (the walk yields the logical screen, then one item per image)."""
    return sum(1 for _ in _walk(data)) - 1


def decode_gif(data: bytes) -> dict:
    """GIF bytes -> {width, height, frames: [(H, W, 3) uint8, ...],
    durations_ms: [...]} — every frame of :func:`iter_frames`, copied."""
    frames, durations = [], []
    for screen, delay_ms in iter_frames(data):
        frames.append(screen.copy())
        durations.append(delay_ms)
    h, w = frames[0].shape[:2]
    return {"width": w, "height": h, "frames": frames,
            "durations_ms": durations}


def _lzw_encode(idx: np.ndarray, min_code: int) -> bytes:
    """Real dictionary-based GIF LZW (grows code width, CLEARs on a full
    table) — exercises every decoder growth path."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code + 1
    emit(clear, width)
    cur = b""
    for v in idx.tolist():
        cand = cur + bytes([v])
        if cand in table:
            cur = cand
            continue
        emit(table[cur], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:                       # table full: clear and restart
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        cur = bytes([v])
    if cur:
        emit(table[cur], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(frames, palette: np.ndarray | None = None,
               durations_ms=None, interlace: bool = False) -> bytes:
    """Index frames -> GIF89a bytes. ``frames``: one (H, W) uint8 index
    array or a list of them (animation); ``palette``: (N<=256, 3) uint8
    (defaults to a 216-color web-safe cube + grays)."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape
    if palette is None:
        levels = np.array([0, 51, 102, 153, 204, 255], dtype=np.uint8)
        cube = np.stack(np.meshgrid(levels, levels, levels,
                                    indexing="ij"), axis=-1).reshape(-1, 3)
        grays = np.stack([np.arange(8, 256, 8, dtype=np.uint8)] * 3,
                         axis=1)[:40]
        palette = np.vstack([cube, grays])
    n_col = len(palette)
    bits = max(2, int(np.ceil(np.log2(n_col))))
    table_n = 1 << bits
    pal = np.zeros((table_n, 3), dtype=np.uint8)
    pal[:n_col] = palette
    durations_ms = durations_ms or [100] * len(frames)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (bits - 1), 0, 0])
    out += pal.tobytes()
    if len(frames) > 1:             # Netscape looping extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f, dur in zip(frames, durations_ms):
        if f.shape != (h, w):
            raise ValueError("all frames must share dimensions")
        if int(f.max(initial=0)) >= n_col:
            raise ValueError("frame index beyond palette")
        out += b"\x21\xf9\x04" + bytes([0]) \
            + struct.pack("<H", max(1, dur // 10)) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<4H", 0, 0, w, h) \
            + bytes([0x40 if interlace else 0])
        rows = f
        if interlace:
            parts = [f[start::step] for start, step in _PASSES]
            rows = np.vstack(parts)
        min_code = max(2, bits)
        out += bytes([min_code])
        stream = _lzw_encode(rows.reshape(-1).astype(np.uint8), min_code)
        for i in range(0, len(stream), 255):
            chunk = stream[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
