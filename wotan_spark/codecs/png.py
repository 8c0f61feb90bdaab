"""Dependency-free PNG codec (stdlib ``zlib``/``struct`` + NumPy).

A minimal, real decoder: non-interlaced PNG with color types 0 (grayscale),
2 (RGB), 3 (palette, expanded to RGB or RGBA through PLTE/tRNS),
4 (gray+alpha) and 6 (RGBA), 1/2/4-bit grayscale and palette depths, and
all five scanline filters (None/Sub/Up/Average/Paeth).  16-bit depths and
Adam7 interlacing raise loudly: this is not a libpng replacement.

The matching encoder filters each scanline with a caller-chosen type, which
is what exercises every unfilter path end-to-end.

No entry point imports this module; it is the last of the media codecs
pending deletion (see ``tests/test_module_reach.py``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
# color type -> channel count (palette type 3 is expanded separately)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor over int32 lanes."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _iter_chunks(payload: bytes):
    pos = len(_SIGNATURE)
    n = len(payload)
    while pos + 8 <= n:
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) != length:
            raise ValueError("PNG: truncated chunk "
                             f"{ctype!r} at offset {pos}")
        # 4 trailing CRC bytes are skipped (we do not validate CRCs — the
        # zlib checksum on the pixel stream already catches corruption)
        yield ctype, data
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("PNG: missing IEND chunk")


def parse_png(payload: bytes) -> tuple[np.ndarray, int, int, int]:
    """Decode a PNG byte payload -> ``(pixels, width, height, channels)``
    where ``pixels`` is a ``(height, width * channels)`` uint8 array."""
    if not payload.startswith(_SIGNATURE):
        raise ValueError("PNG: bad signature")
    width = height = None
    depth = 8
    color = 0
    channels = 0
    idat = bytearray()
    palette = None
    trns = None
    for ctype, data in _iter_chunks(payload):
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", data)
            if color == 3:
                channels = 1              # palette indexes; expanded below
            elif color in _CHANNELS:
                channels = _CHANNELS[color]
            else:
                raise ValueError(f"PNG: color type {color} unsupported")
            # depths 1/2/4 are legal for grayscale + palette only (spec
            # 11.2.2); 16-bit stays out of the built-in
            if depth not in ((1, 2, 4, 8) if color in (0, 3) else (8,)):
                raise ValueError(f"PNG: bit depth {depth} unsupported for "
                                 f"color type {color} (built-in decodes "
                                 "1/2/4/8 grayscale+palette, 8 otherwise)")
            if interlace != 0:
                raise ValueError("PNG: Adam7 interlacing unsupported")
            if comp != 0 or filt != 0:
                raise ValueError("PNG: nonstandard compression/filter "
                                 "method")
        elif ctype == b"PLTE":
            if len(data) % 3:
                raise ValueError("PNG: PLTE length not a multiple of 3")
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS" and color == 3:
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat += data
    if width is None:
        raise ValueError("PNG: missing IHDR")
    if color == 3 and palette is None:
        raise ValueError("PNG: palette image without a PLTE chunk")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    # filtering operates on BYTES: a sub-byte-depth row packs several
    # samples per byte and filters with a 1-byte left distance (spec 9.2)
    row_bytes = (width * channels * depth + 7) // 8
    stride = row_bytes
    if raw.size != height * (stride + 1):
        raise ValueError(f"PNG: pixel stream is {raw.size} bytes, "
                         f"expected {height * (stride + 1)}")
    rows = raw.reshape(height, stride + 1)
    filters = rows[:, 0]
    # unfilter in int32 (the recurrences wrap mod 256 at the end of each
    # row); Sub is a per-lane cumulative sum, Up is fully vectorized,
    # Average/Paeth scan pixels left-to-right with the channel lanes
    # vectorized — rows remain a Python loop, which is the honest shape
    # for a recurrence that crosses scanlines
    bpp = max(1, channels * depth // 8)
    out = np.zeros((height, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        filt = rows[y, 1:].astype(np.int32)
        ftype = int(filters[y])
        if ftype == 0:                      # None
            line = filt
        elif ftype == 1:                    # Sub
            lanes = filt.reshape(-1, bpp)
            line = (np.cumsum(lanes, axis=0) & 0xFF).reshape(-1)
        elif ftype == 2:                    # Up
            line = (filt + prev) & 0xFF
        elif ftype == 3:                    # Average
            line = filt.copy()
            line[:bpp] = (line[:bpp] + (prev[:bpp] >> 1)) & 0xFF
            for x in range(bpp, stride, bpp):
                line[x:x + bpp] = (line[x:x + bpp]
                                   + ((line[x - bpp:x]
                                       + prev[x:x + bpp]) >> 1)) & 0xFF
        elif ftype == 4:                    # Paeth
            line = filt.copy()
            zero = np.zeros(bpp, dtype=np.int32)
            line[:bpp] = (line[:bpp]
                          + _paeth(zero, prev[:bpp], zero)) & 0xFF
            for x in range(bpp, stride, bpp):
                line[x:x + bpp] = (line[x:x + bpp]
                                   + _paeth(line[x - bpp:x],
                                            prev[x:x + bpp],
                                            prev[x - bpp:x])) & 0xFF
        else:
            raise ValueError(f"PNG: filter type {ftype} on row {y}")
        out[y] = line
        prev = line
    px = out.astype(np.uint8)
    if depth < 8:
        # unpack MSB-first bit groups into one sample per value, then
        # crop the row padding (the last byte of a row may carry unused
        # low bits)
        bits = np.unpackbits(px, axis=1)
        groups = bits[:, :row_bytes * 8 // depth * depth] \
            .reshape(height, -1, depth)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        samples = (groups * weights).sum(axis=2).astype(np.uint8)
        samples = samples[:, :width]
        if color == 0:
            # scale to full 8-bit range (255 / (2^d - 1) is exact for
            # d in {1, 2, 4}: 255, 85, 17)
            px = samples * np.uint8(255 // ((1 << depth) - 1))
        else:
            px = samples
    if color == 3:
        idx = px.reshape(height, width)
        if idx.max() >= len(palette):
            raise ValueError("PNG: palette index out of range")
        if trns is not None:
            alpha = np.full(len(palette), 255, dtype=np.uint8)
            alpha[:len(trns)] = trns
            rgba = np.concatenate([palette, alpha[:, None]], axis=1)
            return rgba[idx].reshape(height, width * 4), width, height, 4
        return palette[idx].reshape(height, width * 3), width, height, 3
    return px, width, height, channels


def decode_png(payload: bytes) -> np.ndarray:
    """Registry-shaped decoder: PNG payload -> flat uint8 sample array."""
    pixels, _w, _h, _c = parse_png(payload)
    return pixels.reshape(-1)


def encode_png(pixels: np.ndarray, channels: int = 1,
               filter_type: int = 0) -> bytes:
    """Encode a ``(height, width*channels)`` (or flat-able) uint8 array as
    a real PNG.  ``filter_type`` applies one filter to every scanline
    (0..4) — tests use it to exercise each unfilter path."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(channels)
    if color is None:
        raise ValueError(f"channels={channels} unsupported")
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim == 1:           # "flat-able": a flat array is one scanline
        px = px.reshape(1, -1)
    if px.ndim != 2 or px.shape[1] % channels:
        raise ValueError("pixels must be (height, width*channels)")
    height, stride = px.shape
    width = stride // channels
    if not 0 <= filter_type <= 4:
        raise ValueError(f"filter_type {filter_type} out of range")
    bpp = channels
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        cur = px[y].astype(np.int32)
        left = np.concatenate([np.zeros(bpp, dtype=np.int32),
                               cur[:-bpp]]) if stride > bpp else \
            np.zeros(stride, dtype=np.int32)
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int32),
                                 prev[:-bpp]]) if stride > bpp else \
            np.zeros(stride, dtype=np.int32)
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = (cur - left) & 0xFF
        elif filter_type == 2:
            filt = (cur - prev) & 0xFF
        elif filter_type == 3:
            filt = (cur - ((left + prev) >> 1)) & 0xFF
        else:
            filt = (cur - _paeth(left, prev, upleft)) & 0xFF
        lines.append(filter_type)
        lines += filt.astype(np.uint8).tobytes()
        prev = cur
    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (_SIGNATURE + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines)))
            + chunk(b"IEND", b""))
