"""Codec payload pins: SHA-256 digests of ``gorilla.encode`` and
``dod.encode`` payloads over a fixed corpus.

The payload bytes are the stored format of the ``blocks`` tables, so any
change to them would leave tables written before unreadable.  The corpus
is built from arithmetic and stored bit patterns, never an RNG stream, so
it is the same on every host and NumPy version.

Gorilla cases cover NaN (canonical and non-canonical bit patterns), ±inf,
−0.0, denormals, empty and one-point blocks, constant runs, runs that
reuse the previous window, leading-zero counts past the 5-bit clamp, and
64-bit meaningful lengths.  delta-of-delta cases cover the int64 extremes
and both sides of every class edge.  Each pinned payload must also decode
to its input bitwise, and one ``encode_many``/``decode_many`` call over a
whole corpus must agree with the per-block calls.  A cut or short payload
must raise a ``ValueError`` that names the codec, not decode silently.

Regenerate (only for an intended format change) with
``python -m tests.test_codec_pins``.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

from wotan_spark.codecs import dod, gorilla

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "codec_pins.json")
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _bits(*patterns: int) -> np.ndarray:
    return np.array(patterns, dtype=np.uint64).view(np.float64)


def _mixed(n: int) -> np.ndarray:
    """Full-width 64-bit patterns from a multiplicative hash of the index:
    XORs with both end bits set, so meaningful length 64."""
    with np.errstate(over="ignore"):
        h = (np.arange(1, n + 1, dtype=np.uint64) * _GOLDEN)
    return (h ^ (h >> np.uint64(29))).view(np.float64)


def gorilla_corpus() -> dict[str, np.ndarray]:
    i = np.arange(600, dtype=np.float64)
    return {
        "empty": np.empty(0),
        "one": np.array([3.25]),
        "one_nan": _bits(0x7FF8000000000001),
        "constant": np.full(50, 2.5),
        "specials": np.array([0.0, -0.0, np.inf, -np.inf, np.nan, np.nan,
                              -0.0, 1.0, np.inf, 0.0]),
        "nan_patterns": _bits(0x7FF8000000000000, 0x7FF0000000000001,
                              0xFFF8000000000123, 0x7FFFFFFFFFFFFFFF,
                              0x7FF8000000000000, 0xFFF0000000000001),
        "denormals": _bits(1, 2, 3, 0x000FFFFFFFFFFFFF, 0x0008000000000000,
                           1, 0, 0x8000000000000001, 5),
        "window_64": _bits(1, 0x8000000000000000, 0x8000000000000001, 0,
                           0xFFFFFFFFFFFFFFFF, 0x7FFFFFFFFFFFFFFE),
        "window_reuse": np.tile([1.0, 1.5, 1.0, 1.5, 1.25], 20),
        "ramp": 100.0 + i * 0.01,
        "rationals": (i * i % 97) / 8.0 - 6.0,
        "small_ints": i % 7,
        "walk": np.cumsum((i * 37 % 11 - 5) / 1024.0),
        "mixed_bits": _mixed(300),
        "all_cases": np.concatenate([
            np.array([3.25]), np.full(5, 2.5), _mixed(40),
            np.array([np.nan, -0.0, np.inf, 5e-324, 1e-310]),
            100.0 + i * 0.01, _bits(1, 0x8000000000000000)]),
    }


def _dod_from_dods(dods: list[int], v0: int = 1000,
                   d0: int = 10) -> np.ndarray:
    """Values whose delta-of-deltas are exactly ``dods``."""
    deltas = np.cumsum(np.array([d0] + dods, dtype=np.int64))
    return np.concatenate(([v0], v0 + np.cumsum(deltas))).astype(np.int64)


def dod_corpus() -> dict[str, np.ndarray]:
    i64 = np.iinfo(np.int64)
    edges = [0]
    for lo, hi in ((-63, 64), (-255, 256), (-2047, 2048)):
        edges += [lo, hi, lo - 1, hi + 1]
    edges += [1 << 40, -(1 << 40), 0, 0]
    t = np.arange(0, 10000, 10, dtype=np.int64)
    return {
        "empty": np.empty(0, dtype=np.int64),
        "one": np.array([-7], dtype=np.int64),
        "two": np.array([i64.min, i64.max], dtype=np.int64),
        "extremes": np.array([i64.min, i64.max, 0, i64.max, i64.min, -1, 1,
                              i64.min + 1, i64.max - 1], dtype=np.int64),
        "class_edges": _dod_from_dods(edges),
        "class_edges_neg": _dod_from_dods([-e for e in edges], v0=-5, d0=-3),
        "cadence": t,
        "jittered": t + (t * 7 % 13) - 6,
        "mixed_bits": _mixed(200).view(np.int64),
        "tokens": (np.arange(700, dtype=np.int64) * 31 % 257) - 128,
    }


def _codec_cases():
    return [("gorilla", gorilla, gorilla_corpus()),
            ("dod", dod, dod_corpus())]


def payload_digests() -> dict[str, dict[str, str]]:
    return {name: {case: hashlib.sha256(mod.encode(arr)).hexdigest()
                   for case, arr in corpus.items()}
            for name, mod, corpus in _codec_cases()}


def _load() -> dict:
    with open(PINS, encoding="utf-8") as fh:
        return json.load(fh)


@pytest.mark.parametrize("codec", ["gorilla", "dod"])
def test_payload_digests_match_pins(codec):
    pins = _load()[codec]
    got = payload_digests()[codec]
    assert sorted(got) == sorted(pins)
    changed = [case for case in pins if got[case] != pins[case]]
    assert not changed, f"{codec} payload bytes changed for {changed}"


@pytest.mark.parametrize("codec", ["gorilla", "dod"])
def test_pinned_payloads_decode_bitwise(codec):
    mod, corpus = {n: (m, c) for n, m, c in _codec_cases()}[codec]
    for case, arr in corpus.items():
        out = mod.decode(mod.encode(arr))
        assert out.dtype == arr.dtype, case
        assert out.tobytes() == arr.tobytes(), case


@pytest.mark.parametrize("codec", ["gorilla", "dod"])
def test_batched_calls_match_per_block_calls(codec):
    mod, corpus = {n: (m, c) for n, m, c in _codec_cases()}[codec]
    blocks = list(corpus.values())
    offsets = np.cumsum([0] + [len(b) for b in blocks])
    payloads = mod.encode_many(np.concatenate(blocks), offsets)
    assert payloads == [mod.encode(b) for b in blocks]
    values, got = mod.decode_many(payloads)
    assert got.tolist() == offsets.tolist()
    assert values.tobytes() == np.concatenate(blocks).tobytes()
    empty, none = mod.decode_many([])
    assert len(empty) == 0 and none.tolist() == [0]


@pytest.mark.parametrize("codec", ["gorilla", "dod"])
def test_corrupt_payload_raises_named_error(codec):
    mod, corpus = {n: (m, c) for n, m, c in _codec_cases()}[codec]
    arr = corpus["mixed_bits"]
    payload = mod.encode(arr)
    for cut in (payload[:len(payload) // 2], payload[:-1], payload[:12]):
        with pytest.raises(ValueError, match=rf"{codec}.*count {len(arr)}, "
                                             rf"{len(cut)} bytes"):
            mod.decode(cut)
        good = mod.encode(corpus["one"])
        with pytest.raises(ValueError, match=rf"{codec}.*{len(cut)} bytes"):
            mod.decode_many([good, cut, good])
    for short in (b"", payload[:3]):
        with pytest.raises(ValueError, match=rf"{codec}.*4-byte header"):
            mod.decode(short)


@pytest.mark.parametrize("bits", [
    "10",                             # reuse before the block's first window
    "11" + "11111" + "000000" + "0" * 64,  # 31 leading + 64 bits > 64
])
def test_gorilla_impossible_window_is_corrupt(bits):
    """Two streams no encoder writes: the per-point decoder read the first
    as a zero XOR silently and hit a negative shift on the second."""
    bits += "0" * (-len(bits) % 8)
    stream = int(bits, 2).to_bytes(len(bits) // 8, "big")
    payload = (2).to_bytes(4, "big") + bytes(8) + stream
    with pytest.raises(ValueError, match=f"gorilla.*count 2, {len(payload)} "):
        gorilla.decode(payload)


if __name__ == "__main__":
    with open(PINS, "w", encoding="utf-8") as fh:
        json.dump(payload_digests(), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {PINS}")
