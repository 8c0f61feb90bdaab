"""Delta-of-delta integer compression (Gorilla timestamp scheme, Pelkonen et
al. 2015 §4.1.1, widened to 64-bit values).

Header: 32-bit count, first value (64b zigzag varint-free raw), first delta
raw 64b.  Each subsequent delta-of-delta D:
  D == 0              -> 0
  -63   <= D <= 64    -> 10 + 7 bits
  -255  <= D <= 256   -> 110 + 9 bits
  -2047 <= D <= 2048  -> 1110 + 12 bits
  else                -> 1111 + 64 bits (two's complement)

Deltas wrap modulo 2^64 on both sides, so the full int64 range
round-trips.  A value's class depends on that value alone, so the encoder
is NumPy throughout; the prefix parse is the decoder's one loop.
"""

from __future__ import annotations

import numpy as np

from wotan_spark.codecs import U64, Streams, block_index, pack, restart

# per class 0..4: prefix code, its length, field width and field bias
_TAG = np.array([0, 0b10, 0b110, 0b1110, 0b1111], dtype=U64)
_TAG_W = np.array([1, 2, 3, 4, 4])
_WIDTH = np.array([0, 7, 9, 12, 64])
_BIAS = np.array([0, 63, 255, 2047, 0], dtype=U64)
_CLASS = np.array([0] * 8 + [1] * 4 + [2] * 2 + [3, 4])  # by next 4 bits
_STEP = tuple((_TAG_W + _WIDTH)[_CLASS].tolist())


def encode_many(values: np.ndarray, offsets) -> list[bytes]:
    """One payload per block ``values[offsets[b]:offsets[b + 1]]``."""
    u = np.ascontiguousarray(values, dtype=np.int64).view(U64)
    offsets = np.asarray(offsets, dtype=np.int64)
    at = block_index(offsets)
    delta = u - np.concatenate((np.zeros(1, U64), u[:-1]))
    dd = delta - np.concatenate((np.zeros(1, U64), delta[:-1]))
    d = dd.view(np.int64)
    cls = np.select([d == 0, (d >= -63) & (d <= 64), (d >= -255) & (d <= 256),
                     (d >= -2047) & (d <= 2048)], [0, 1, 2, 3], 4)
    big = cls == 4  # its 64-bit field is the point's second stream field
    inline = np.where(big, 0, _WIDTH[cls])
    head = np.select([at == 0, at == 1], [u, delta], _TAG[cls] << inline.astype(
        U64) | np.where(big, U64(0), dd + _BIAS[cls]))
    big &= at >= 2
    return pack(head, np.where(at < 2, 64, _TAG_W[cls] + inline),
                np.where(big, dd, U64(0)), np.where(big, 64, 0), offsets)


def _scan(words, p: int, count: int, out: list) -> int:
    for _ in range(count):
        out.append(p)
        p += _STEP[words[p >> 3] >> (28 - (p & 7)) & 15]
    return p


def decode_many(payloads) -> tuple[np.ndarray, np.ndarray]:
    """``(values, offsets)``: block b decodes to
    ``values[offsets[b]:offsets[b + 1]]``."""
    s = Streams(payloads, "dod", 2)
    p = s.parse(_scan)
    cls = _CLASS[s.win[p >> 3] >> (28 - (p & 7)) & 15]
    has, dd = cls > 0, np.zeros(len(p), U64)
    p, cls = p[has], cls[has]
    dd[has] = s.field(p + _TAG_W[cls], _WIDTH[cls]) - _BIAS[cls]
    at = block_index(s.offsets)
    step = np.zeros(s.offsets[-1], U64)
    step[at == 1], step[at > 1] = s.raw_value(1), dd
    delta = restart(np.add, np.subtract, step, s.offsets)
    delta[at == 0] = s.raw_value(0)
    return restart(np.add, np.subtract, delta, s.offsets).view(
        np.int64), s.offsets


def encode(values: np.ndarray) -> bytes:
    return encode_many(values, [0, len(values)])[0]


def decode(payload: bytes) -> np.ndarray:
    return decode_many([payload])[0]
