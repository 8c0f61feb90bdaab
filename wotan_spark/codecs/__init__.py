"""Time-series block codecs: Gorilla XOR floats, delta-of-delta integers.

From the published Gorilla scheme (Pelkonen et al., VLDB 2015).  A payload
is a 32-bit big-endian point count, then an MSB-first bit stream.  Each
codec's ``encode_many(values, offsets)``/``decode_many(payloads)`` code a
whole Arrow batch of blocks in NumPy; its only Python loop is one step per
point (the Gorilla window choice, each decoder's control-bit parse).  The
helpers here hold the bit layout both codecs share.
"""

from __future__ import annotations

import struct

import numpy as np

U64 = np.uint64


def block_index(offsets: np.ndarray) -> np.ndarray:
    """Each point's index inside its block ``offsets[b]:offsets[b + 1]``."""
    return np.arange(offsets[-1]) - np.repeat(offsets[:-1], np.diff(offsets))


def pack(head: np.ndarray, head_w: np.ndarray, body: np.ndarray,
         body_w: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """One payload per block from two stream fields per point, the low
    ``*_w`` bits (0..64) of ``head`` then ``body``.  Each block starts on
    a 64-bit word, so its stream is one slice of the packed words."""
    v = np.stack((head, body), 1).ravel()
    w = np.stack((head_w, body_w), 1).ravel()
    cw = np.concatenate(([0], np.cumsum(w)))
    nbits = np.diff(cw[2 * offsets])
    wbase = np.concatenate(([0], np.cumsum((nbits + 63) // 64)))
    pos = cw[:-1] + np.repeat(64 * wbase[:-1] - cw[2 * offsets[:-1]],
                              2 * np.diff(offsets))
    pos, v, end = pos[w > 0], v[w > 0], ((pos & 63) + w)[w > 0]
    k = pos >> 6
    words = np.zeros(wbase[-1] + 1, dtype=U64)
    if len(v):  # fields never overlap: OR each word's parts at once
        first = np.flatnonzero(np.diff(k, prepend=-1))
        words[k[first]] = np.bitwise_or.reduceat(
            v >> np.maximum(end - 64, 0).astype(U64)
            << np.maximum(64 - end, 0).astype(U64), first)
        cross = end > 64
        words[k[cross] + 1] |= v[cross] << (128 - end[cross]).astype(U64)
    buf = words.astype(">u8").tobytes()
    return [struct.pack(">I", n) + buf[8 * b:8 * b + (m + 7) // 8] for n, b, m
            in zip(np.diff(offsets).tolist(), wbase.tolist(), nbits.tolist())]


class Streams:
    """A batch of payloads' streams laid end to end: per payload the point
    count ``n``, first stream bit ``base`` and bit length ``nbits``;
    ``win[k]`` is the big-endian 32-bit word at stream byte ``k``.  A
    payload too short for its ``raw`` leading 64-bit values plus one bit
    per other point is rejected before any parse."""

    def __init__(self, payloads, codec: str, raw: int) -> None:
        self.codec, self.raw = codec, raw
        self.sizes = np.array([len(p) for p in payloads], dtype=np.int64)
        if (self.sizes < 4).any():
            raise ValueError(f"{codec} payload of {self.sizes.min()} bytes "
                             "is shorter than its 4-byte header")
        self.n = np.frombuffer(b"".join(bytes(p[:4]) for p in payloads),
                               dtype=">u4").astype(np.int64)
        self.nbits = 8 * (self.sizes - 4)
        self.base = np.cumsum(self.nbits) - self.nbits
        self.buf = np.frombuffer(b"".join(memoryview(p)[4:] for p in payloads)
                                 + bytes(16), dtype=np.uint8)
        b = self.buf.astype(np.uint32)
        self.win = (b[:-3] << 24) | (b[1:-2] << 16) | (b[2:-1] << 8) | b[3:]
        self.head = 64 * np.minimum(self.n, raw)
        short = self.head + np.maximum(self.n - raw, 0) > self.nbits
        if short.any():
            raise self.error(int(np.argmax(short)))
        self.offsets = np.concatenate(([0], np.cumsum(self.n)))

    def error(self, j: int) -> ValueError:
        return ValueError(f"corrupt {self.codec} payload: header count "
                          f"{self.n[j]}, {self.sizes[j]} bytes")

    def parse(self, scan) -> np.ndarray:
        """Stream bit of every point after the raw values.  ``scan(words,
        bit, points, out)`` parses a payload from ``bit`` into ``out`` and
        returns its end bit; one past the payload's end is an error."""
        out, words = [], memoryview(self.win)
        for j, (n, p, end) in enumerate(zip(
                (self.n - self.raw).tolist(), (self.base + self.head).tolist(),
                (self.base + self.nbits).tolist())):
            try:
                p = scan(words, p, n, out)
            except IndexError:
                raise self.error(j) from None
            if p > end:
                raise self.error(j)
        return np.array(out, dtype=np.int64)

    def field(self, start: np.ndarray, width: np.ndarray) -> np.ndarray:
        """The ``width``-bit (1..64) fields at stream bits ``start``."""
        k, off = start >> 3, (start & 7).astype(U64)
        hi = np.lib.stride_tricks.sliding_window_view(self.buf, 8)[k]
        out = hi.view(">u8")[:, 0].astype(U64) << off | (
            self.buf[k + 8].astype(U64) >> (8 - off))
        return out >> (64 - width).astype(U64)

    def raw_value(self, i: int) -> np.ndarray:
        """Raw 64-bit value ``i`` of each payload with more points."""
        has = self.n > i
        return self.field(self.base[has] + 64 * i, np.full(has.sum(), 64))


def restart(acc: np.ufunc, undo: np.ufunc, x: np.ndarray,
            offsets: np.ndarray) -> np.ndarray:
    """``acc.accumulate(x)`` restarted at each block of ``offsets``."""
    c = np.concatenate((np.zeros(1, U64), acc.accumulate(x, dtype=U64)))
    return undo(c[1:], np.repeat(c[offsets[:-1]], np.diff(offsets)))
