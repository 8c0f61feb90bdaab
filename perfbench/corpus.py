"""Seeded input corpora for the benchmark workloads.

Every corpus is a canonical sequences table ``(doc_id, tokens, n_tok,
source)`` written to parquet with pyarrow, so the engine sees only a path.
The generator is the benchmark's own (the engine's ``synth`` module is not
used), which keeps the inputs identical across engine versions.

A corpus is grown doc by doc until it holds ``points`` tokens.  The
series lengths come from the shape alone and the values from the seed, so
every seed of a workload does the same amount of work.  Corpora are
cached per (name, seed, shape) and record their shape next to the data.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SENTINEL = -2147483648
SCALE = 1e6
SOURCES = ("web", "books", "code", "synthetic")
# the engine's skew-router threshold (detrend_op.AUTO_CHUNK_THRESHOLD),
# restated so shape records do not depend on importing the engine
CHUNK_THRESHOLD = 65536


@dataclass(frozen=True)
class Shape:
    """Length distribution of one corpus: lognormal(median, sigma) clipped
    to [min_len, max_len], grown to ``points`` tokens; ``n_long`` extra
    docs of ``long_len`` tokens are placed first."""
    points: int
    median_len: int
    sigma: float
    min_len: int = 16
    max_len: int = 20000
    n_long: int = 0
    long_len: int = 0
    gap_frac: float = 0.15

    def key(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha1(blob).hexdigest()[:12]


def make_tokens(rng: np.random.Generator, n: int,
                gap_frac: float) -> np.ndarray:
    """One series as int32 tokens: sin trend + gaussian noise + periodic
    dips and flares, with an optional gap of sentinel tokens."""
    t = np.linspace(0, 30, n)
    phase = rng.uniform(0, 2 * np.pi)
    amp = rng.uniform(0.5, 2.0) / n
    noise = rng.uniform(0.5, 2.0) * 1e-4
    flux = 1 + np.sin(t + phase) * amp + rng.normal(0, noise, n)
    idx = np.arange(n)
    flux[(idx % 75) < 5] -= 0.0004
    flux[((idx % 75) >= 50) & ((idx % 75) < 52)] += 0.0002
    tokens = np.round((flux - 1.0) * SCALE).astype(np.int32)
    if rng.random() < gap_frac:
        lo = int(rng.integers(0, max(n - 32, 1)))
        hi = min(lo + int(rng.integers(8, 128)), n)
        tokens[lo:hi] = SENTINEL
    return tokens


def lengths(shape: Shape, tag: int = 0) -> list[int]:
    """Series lengths of a shape.  They depend on the shape alone, not on
    the seed, so every seed of a workload does the same amount of work."""
    rng = np.random.default_rng([int(shape.key(), 16), tag])
    out = [shape.long_len] * shape.n_long
    while sum(out) < shape.points:
        out.append(int(np.clip(rng.lognormal(np.log(shape.median_len),
                                             shape.sigma),
                               shape.min_len, shape.max_len)))
    return out


def generate(seed: int, shape: Shape, tag: int = 0) -> list[np.ndarray]:
    """Token arrays of one corpus; ``tag`` selects an independent stream
    for the same seed (late batches)."""
    return [make_tokens(np.random.default_rng([seed, tag, i]), n,
                        shape.gap_frac)
            for i, n in enumerate(lengths(shape, tag))]


def doc_id(i: int) -> str:
    return f"doc_{i:08d}"


def to_table(docs: list[np.ndarray], ids: list[str] | None = None
             ) -> pa.Table:
    ids = ids or [doc_id(i) for i in range(len(docs))]
    return pa.table({
        "doc_id": pa.array(ids, pa.string()),
        "tokens": pa.array([d.tolist() for d in docs],
                           pa.list_(pa.int32())),
        "n_tok": pa.array([len(d) for d in docs], pa.int32()),
        "source": pa.array([SOURCES[int(i[4:]) % len(SOURCES)]
                            for i in ids], pa.string()),
    })


def describe(docs: list[np.ndarray]) -> dict:
    """Shape record: docs, points, valid (non-sentinel) points, length
    percentiles and docs past the chunk threshold."""
    lens = np.array([len(d) for d in docs], dtype=np.int64)
    valid = int(sum(int((d != SENTINEL).sum()) for d in docs))
    p = np.percentile(lens, [50, 90, 99]) if len(lens) else [0, 0, 0]
    return {"docs": int(len(lens)), "points": int(lens.sum()),
            "valid_points": valid,
            "len_p50": float(p[0]), "len_p90": float(p[1]),
            "len_p99": float(p[2]),
            "len_max": int(lens.max()) if len(lens) else 0,
            "docs_past_chunk_threshold": int((lens > CHUNK_THRESHOLD).sum())}


def write_corpus(path: str, docs: list[np.ndarray],
                 ids: list[str] | None = None, files: int = 4) -> dict:
    """Write ``docs`` as ``files`` parquet files under ``path`` (several
    files so the scan splits across tasks); returns the shape record."""
    os.makedirs(path, exist_ok=True)
    table = to_table(docs, ids)
    step = max(1, -(-table.num_rows // files))
    for k, lo in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    info = describe(docs)
    with open(os.path.join(path, "_shape.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def cached_corpus(cache_dir: str, name: str, seed: int, shape: Shape,
                  files: int = 4, docs: list[np.ndarray] | None = None
                  ) -> tuple[str, dict]:
    """Path and shape record of the corpus for (name, seed, shape),
    written on first use (from ``docs`` when the caller already generated
    them)."""
    path = os.path.join(cache_dir, f"{name}-s{seed}-{shape.key()}")
    meta = os.path.join(path, "_shape.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if docs is None:
        docs = generate(seed, shape)
    info = write_corpus(tmp, docs, files=files)
    os.replace(tmp, path)
    return path, info
