"""Gorilla XOR compression for float64 series (Pelkonen et al. 2015 §4.1.2).

Per value: XOR against the previous value.
  * zero XOR            -> control bit 0
  * fits prior window   -> bits 10 + meaningful bits in the previous
                           (leading, length) window
  * new window          -> bits 11 + 5-bit leading-zero count + 6-bit
                           meaningful-bit length (64 stored as 0) + bits

NaN round-trips exactly (it is just a bit pattern).  Header: 32-bit count +
first value raw.  XORs, zero counts and fields are NumPy arrays over the
batch; the window choice and the control-bit parse are the loops.
"""

from __future__ import annotations

import numpy as np

from wotan_spark.codecs import U64, Streams, block_index, pack, restart


def _bit(p: np.ndarray) -> np.ndarray:
    """Bit index of each power of two in ``p`` (exact as float64)."""
    return np.frexp(p.astype(np.float64))[1].astype(np.int64) - 1


def encode_many(values: np.ndarray, offsets) -> list[bytes]:
    """One payload per block ``values[offsets[b]:offsets[b + 1]]``."""
    u = np.ascontiguousarray(values, dtype=np.float64).view(U64)
    offsets = np.asarray(offsets, dtype=np.int64)
    at = block_index(offsets)
    x = u ^ np.concatenate((np.zeros(1, U64), u[:-1]))
    nz = (at > 0) & (x != 0)
    xs = top = x[nz]
    for s in (1, 2, 4, 8, 16, 32):
        top = top | top >> U64(s)
    lead = np.minimum(63 - _bit(top ^ top >> U64(1)), 31)
    end = 64 - _bit(xs & ~xs + U64(1))  # past the last meaningful bit
    # a window holds while each XOR's bits stay inside it; new per block
    is_new = np.zeros(len(xs), dtype=bool)
    new, w_lead, w_end = [], 0, 0
    for i, (ld, en, st) in enumerate(zip(lead.tolist(), end.tolist(), (
            np.diff(np.cumsum(at == 0)[nz], prepend=0) > 0).tolist())):
        if st or ld < w_lead or en > w_end:
            new.append(i)
            w_lead, w_end = ld, en
    is_new[new] = True
    g = np.maximum.accumulate(np.where(is_new, np.arange(len(xs)), 0))
    mlen = end[g] - lead[g]
    head, head_w = np.where(at == 0, u, U64(0)), np.where(at == 0, 64, 1)
    head[nz] = np.where(is_new, 3 << 11 | lead << 6 | mlen & 63, 2)
    head_w[nz] = np.where(is_new, 13, 2)
    body, body_w = np.zeros(len(u), U64), np.zeros(len(u), np.int64)
    body[nz], body_w[nz] = xs >> (64 - end[g]).astype(U64), mlen
    return pack(head, head_w, body, body_w, offsets)


def _scan(words, p: int, count: int, out: list) -> int:
    mlen = 1 << 62  # no window yet: a '10' here runs the parse off the end
    for _ in range(count):
        out.append(p)
        w = words[p >> 3] >> (19 - (p & 7)) & 8191  # the next 13 bits
        if w < 4096:
            p += 1
        elif w < 6144:
            p += 2 + mlen
        else:
            mlen = (w & 63) or 64
            p += 13 + mlen
    return p


def decode_many(payloads) -> tuple[np.ndarray, np.ndarray]:
    """``(values, offsets)``: block b decodes to
    ``values[offsets[b]:offsets[b + 1]]``."""
    s = Streams(payloads, "gorilla", 1)
    p = s.parse(_scan)
    w = s.win[p >> 3] >> (19 - (p & 7)) & 8191
    is_new = w >= 6144
    # a '10' point's window is the last '11' point's: the parse has
    # rejected a '10' before its block's first '11'
    g = np.maximum.accumulate(np.where(is_new, np.arange(len(p)), 0))
    ok = w >= 4096
    lead, mlen = np.where(ok, w[g] >> 6 & 31, 0), (w[g] - 1 & 63) + 1
    bad = np.flatnonzero(lead + mlen > 64)  # a window past the 64 bits
    if len(bad):
        raise s.error(int(np.searchsorted(
            np.cumsum(np.maximum(s.n - 1, 0)), bad[0], "right")))
    x = np.zeros(len(p), U64)
    x[ok] = s.field(p[ok] + np.where(is_new, 13, 2)[ok], mlen[ok]) << (
        64 - lead[ok] - mlen[ok]).astype(U64)
    out = np.empty(s.offsets[-1], U64)
    at = block_index(s.offsets)
    out[at == 0], out[at > 0] = s.raw_value(0), x
    return restart(np.bitwise_xor, np.bitwise_xor, out, s.offsets).view(
        np.float64), s.offsets


def encode(values: np.ndarray) -> bytes:
    return encode_many(values, [0, len(values)])[0]


def decode(payload: bytes) -> np.ndarray:
    return decode_many([payload])[0]
