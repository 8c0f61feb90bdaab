"""Distributed detrend over packed token arrays.

The input table is one-series-per-row, so detrending is embarrassingly
parallel: ONE packed pass (``_detrend_pass`` on ``packed.packed_map``)
decodes each Arrow batch's rows, derives their known-signal masks, runs the
batch kernel (``wotan_spark.kernels.detrend.detrend_batch``: one estimator
call per window length and row block for the whole batch, not per series)
and hands the results to an emitter — packed ``flat``/``trend`` arrays
(``detrend_sequences``) or tier bucket rows (``detrend_rollup_fused``) —
**zero shuffle**, unlike an explode -> groupBy plan which would multiply
10^12 rows by sequence length.

Skew handling for heavy-tailed sequence lengths (the ``n_tok`` lognormal
tail): with a ``chunk_threshold`` the router (``_route``) splits rows past it
into overlapping chunk rows, repartitions them with an explicit count so one
50k-token doc doesn't pin a task, and runs the same pass over each chunk,
keeping only its core slice.  Overlap >= window + break_tolerance makes
interior points exact (window estimators are local; verified by test against
the unchunked path).
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from wotan_spark.kernels.detrend import detrend_batch, detrend_series
from wotan_spark.kernels.series import transit_mask
from wotan_spark.spark.packed import packed_map, series
from wotan_spark.spark.rollup import TIER_SCHEMA, _tier_arrays

CHUNK_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("chunk_id", IntegerType(), False),
    StructField("t0", LongType(), False),
    StructField("lead", IntegerType(), False),
    StructField("core", IntegerType(), False),
    StructField("n_tok", IntegerType(), False),
    StructField("source", StringType(), True),
    StructField("tokens", ArrayType(IntegerType(), True), False),
])

# routing threshold: a doc only benefits from chunking when its solo kernel
# time rivals a whole task's mean wall (the vectorized sliders run
# ~300k pts/s/core, so 64k tokens ~ 0.2s — below that, chunking's extra
# shuffle + reassembly stages cost more than the straggler they remove)
AUTO_CHUNK_THRESHOLD = 65536

# chunk length when neither chunk_size nor a positive threshold gives one
# (``chunk_threshold=0`` chunks every row)
_DEFAULT_CHUNK_SIZE = 8192

# methods whose trend estimate is local (window/kernel-bounded), so
# overlap-chunking reproduces the unchunked output exactly (tested);
# global fits (splines, gp, cofiam, regressions, ...) are not chunkable
_CHUNKABLE_METHODS = frozenset(
    ["biweight", "andrewsinewave", "welsch", "hodges", "median", "mean",
     "trim_mean", "winsorize", "huber_psi", "hampelfilt", "tau",  # sliders
     "huber", "hampel", "ramsay",                    # iterative sliders
     "medfilt", "savgol", "lowess"])                 # local filters


def _mask_of(t: np.ndarray, mask=None,
             transit: tuple[float, float, float] | None = None):
    """The known-signal mask of one series (reference ``flatten(...,
    mask=)``, wotan/flatten.py:194-197 — True = in-transit point excluded
    from the fit): an explicit per-row ``mask`` array, or the periodic mask
    of ``transit=(period, duration, T0)`` over the time axis ``t``; None
    for an unmasked run."""
    if mask is not None:
        return np.asarray(mask, dtype=bool)
    if transit is not None:
        return transit_mask(t, *transit)
    return None


def _chunk_overlap(params: dict) -> int:
    """Overlap (in tokens) that makes a chunk's core slice detrend exactly
    as the full series would: window_length + break_tolerance, ceiled, +1.
    The defaults here must stay in lockstep with ``detrend_series`` or
    chunked output silently diverges from unchunked."""
    wl = params.get("window_length") or 2
    bt = params.get("break_tolerance")
    if bt is None:
        bt = wl / 2
    return int(math.ceil(wl + bt)) + 1


# emit(tokens, y, flat, trend, t0) -> one input row's output columns; the
# arrays are already trimmed to the chunk core
Emitter = Callable[..., dict]


def _detrend_pass(df: DataFrame, params: dict, emit: Emitter,
                  schema: StructType, chunked: bool, carry: tuple[str, ...],
                  mask_col: str | None = None,
                  mask_transit: tuple[float, float, float] | None = None
                  ) -> DataFrame:
    """THE detrend pass, per Arrow batch: decode -> mask -> batch
    kernel -> emit, with ``carry`` repeated onto each row's output.

    ``chunked`` rows come from ``split_chunks``: each is detrended whole
    (overlap included) and only its ``lead:lead+core`` slice is emitted,
    with its first token index ``t0``.  Unchunked rows read no chunk
    columns, so none crosses Arrow on the packed path."""

    def detrend(pdf: pd.DataFrame):
        n = len(pdf)
        masks = pdf[mask_col] if mask_col is not None else [None] * n
        ys = series(pdf)
        batch = []
        for y, mask in zip(ys, masks):
            # dense time axis t = 0..n-1 (the token index)
            t = np.arange(len(y), dtype=np.float64)
            batch.append((t, y, _mask_of(t, mask, mask_transit)))
        results = detrend_batch(batch, **params)
        spans = (zip(pdf["lead"], pdf["core"], pdf["t0"]) if chunked
                 else [(0, None, 0)] * n)
        for tk, y, res, (lead, core, t0) in zip(pdf["tokens"], ys, results,
                                                spans):
            flat, trend = res.flatten_lc, res.trend_lc
            if core is not None:
                sl = slice(int(lead), int(lead) + int(core))
                tk, y, flat, trend = tk[sl], y[sl], flat[sl], trend[sl]
            yield emit(tk, y, flat, trend, int(t0))

    return packed_map(df, detrend, schema, carry)


def _route(df: DataFrame, params: dict, run: Callable[..., DataFrame],
           chunk_threshold: int | None, chunk_size: int | None,
           masked: bool, align: int = 1) -> DataFrame:
    """THE skew router: ``run(part, chunked)`` is the pass for one branch.

    ``chunk_threshold=None``, a non-chunkable (global-fit) method or a
    masked run take the zero-shuffle packed pass for all rows (a mask's
    irregular NaN pattern breaks the chunk-core exactness argument).
    Otherwise rows with ``n_tok <= chunk_threshold`` take the packed pass
    and longer rows are overlap-chunked (``chunk_size`` rounded down to a
    multiple of ``align``) and spread across tasks; ``chunk_threshold=0``
    chunks every row.

    Plan shape: two branches of one union, each with the ``n_tok``
    predicate pushed to the parquet scan.  At 100 TB the long-branch scan
    skips every row group whose n_tok max is under the threshold (the
    lognormal tail is rare), so the second scan costs proportional to the
    skewed tail, not the corpus."""
    if (chunk_threshold is None or params["method"] not in _CHUNKABLE_METHODS
            or masked):
        return run(df, chunked=False)
    size = chunk_size or chunk_threshold or _DEFAULT_CHUNK_SIZE
    size = max(align, (size // align) * align)
    long_ = df if chunk_threshold == 0 else \
        df.filter(F.col("n_tok") > chunk_threshold)
    chunks = split_chunks(long_, size, _chunk_overlap(params))
    # salt: spread one doc's chunks across tasks by (doc_id, chunk_id) hash.
    # The partition count MUST be explicit — a bare column repartition is
    # AQE-coalescible, and chunk rows are few BYTES but heavy CPU, so AQE's
    # byte-targeted coalescing would fold them back into one task and
    # recreate the straggler this operator exists to remove.
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    chunks = chunks.repartition(n_parts, F.col("doc_id"), F.col("chunk_id"))
    long_out = run(chunks, chunked=True)
    if chunk_threshold == 0:
        return long_out
    return run(df.filter(F.col("n_tok") <= chunk_threshold),
               chunked=False).unionByName(long_out)


def _series_schema(outputs: tuple[str, ...], keep_tokens: bool,
                   chunked: bool) -> StructType:
    fields = [StructField("doc_id", StringType(), False)]
    if chunked:
        fields.append(StructField("chunk_id", IntegerType(), False))
    fields += [StructField("n_tok", IntegerType(), False),
               StructField("source", StringType(), True)]
    fields += [StructField(name, ArrayType(DoubleType(), True), True)
               for name in ("flat", "trend") if name in outputs]
    if keep_tokens:
        fields.append(StructField("tokens", ArrayType(IntegerType(), True),
                                  False))
    return StructType(fields)


def _series_emitter(outputs: tuple[str, ...], keep_tokens: bool) -> Emitter:
    """Packed per-series output: one row per input row (per chunk core
    when chunked), result arrays pruned to ``outputs``."""

    def emit(tk, y, flat, trend, t0) -> dict:
        out = {name: [a] for name, a in (("flat", flat), ("trend", trend))
               if name in outputs}
        if keep_tokens:
            out["tokens"] = [tk]
        return out

    return emit


def _reassemble(outputs: tuple[str, ...], keep_tokens: bool):
    """applyInPandas body: one doc's chunk cores -> its packed row."""
    arrays = [(name, np.float64) for name in ("flat", "trend")
              if name in outputs]
    if keep_tokens:
        arrays.append(("tokens", np.int32))

    # grouped-map bodies stay unannotated: applyInPandas infers its eval
    # type from hints and warns on every call when they are partial
    def reassemble(key, pdf):
        pdf = pdf.sort_values("chunk_id")
        out = pd.DataFrame({
            "doc_id": [key[0]],
            "n_tok": [np.int32(pdf["n_tok"].iloc[0])],
            "source": [pdf["source"].iloc[0]],
        })
        for name, dtype in arrays:
            out[name] = [np.concatenate([np.asarray(a, dtype=dtype)
                                         for a in pdf[name]])]
        return out

    return reassemble


def detrend_sequences(df: DataFrame, method: str = "biweight", *,
                      chunk_threshold: int | None = None,
                      chunk_size: int | None = None,
                      keep_tokens: bool = False,
                      outputs: tuple[str, ...] = ("flat", "trend"),
                      mask_col: str | None = None,
                      mask_transit: tuple[float, float, float] | None = None,
                      **params) -> DataFrame:
    """sequences(doc_id, tokens, n_tok, source) ->
    (doc_id, n_tok, source[, flat][, trend][, tokens]) with packed arrays.

    Known-signal exclusion (reference ``flatten(..., mask=)``): pass
    ``mask_col`` naming an array<boolean> column aligned with ``tokens``,
    or ``mask_transit=(period, duration, T0)`` to derive the periodic mask
    from the token index inside the same packed pass.

    ``outputs`` selects which result arrays cross back into the JVM:
    Catalyst cannot prune columns INSIDE a pandas UDF, so a caller that
    only consumes ``flat`` should pass ``outputs=("flat",)`` and skip the
    trend array's Arrow egress entirely (~40% of the UDF output bytes) —
    twice on the chunked branch (pieces, then reassembly).

    ``chunk_threshold`` turns on skew routing (see ``_route``; the
    pipeline uses ``AUTO_CHUNK_THRESHOLD``): chunked rows are detrended,
    trimmed and reassembled with one shuffle on doc_id, exact for the
    local methods; ``keep_tokens`` rebuilds the original token arrays
    bit-exactly.  ``None`` (the default) is the exchange-free packed
    plan."""
    params = dict(params, method=method)

    def run(part: DataFrame, chunked: bool) -> DataFrame:
        carry = ("doc_id",) + (("chunk_id",) if chunked else ()) + (
            "n_tok", "source")
        out = _detrend_pass(
            part, params, _series_emitter(outputs, keep_tokens),
            _series_schema(outputs, keep_tokens, chunked), chunked, carry,
            mask_col, mask_transit)
        if not chunked:
            return out
        return out.groupBy("doc_id").applyInPandas(
            _reassemble(outputs, keep_tokens),
            schema=_series_schema(outputs, keep_tokens, chunked=False))

    return _route(df, params, run, chunk_threshold, chunk_size,
                  masked=mask_col is not None or mask_transit is not None)


def detrend_sequences_auto(df: DataFrame, method: str = "biweight",
                           chunk_threshold: int = AUTO_CHUNK_THRESHOLD,
                           chunk_size: int | None = None,
                           keep_tokens: bool = False,
                           outputs: tuple[str, ...] = ("flat", "trend"),
                           **params) -> DataFrame:
    """``detrend_sequences`` with skew routing on at
    ``AUTO_CHUNK_THRESHOLD`` by default."""
    return detrend_sequences(df, method, chunk_threshold=chunk_threshold,
                             chunk_size=chunk_size, keep_tokens=keep_tokens,
                             outputs=outputs, **params)


def detrend_rollup_fused(df: DataFrame, method: str = "biweight",
                         factor: int = 10, *,
                         chunk_threshold: int | None = None,
                         chunk_size: int | None = None,
                         mask_col: str | None = None,
                         mask_transit: tuple[float, float, float]
                         | None = None, **params) -> DataFrame:
    """Fused detrend + tier rollup in ONE packed pass: half the
    Arrow traffic of chaining ``detrend_sequences`` and ``rollup_tier10``
    (the full-resolution flat/trend arrays never cross back into the JVM),
    zero shuffle.  The pipeline hot path when only tier tables are needed.

    Masks work as in ``detrend_sequences``.  With a ``chunk_threshold``
    long rows are routed as there, but the chunk size is rounded to a
    multiple of ``factor``, so every tier bucket lies wholly inside exactly
    ONE chunk's core slice and each chunk emits its core's tier rows
    directly: all stats (including the non-additive per-bucket median) are
    exact, the bucket rows of different chunks are disjoint, and no
    full-resolution array is ever shuffled or reassembled."""
    params = dict(params, method=method)

    def emit(tk, y, flat, trend, t0) -> dict:
        # chunk cores start on a bucket boundary (t0 % factor == 0)
        return _tier_arrays(y, flat, trend, factor, b0=t0 // factor)

    def run(part: DataFrame, chunked: bool) -> DataFrame:
        return _detrend_pass(part, params, emit, TIER_SCHEMA, chunked,
                             ("doc_id",), mask_col, mask_transit)

    return _route(df, params, run, chunk_threshold, chunk_size,
                  masked=mask_col is not None or mask_transit is not None,
                  align=factor)


def detrend_points(points: DataFrame, method: str = "biweight",
                   mask_transit: tuple[float, float, float] | None = None,
                   **params) -> DataFrame:
    """Long-form entry point: (doc_id, t, y[, ...]) -> adds trend/flat.

    For callers whose data is already exploded, and the only one that
    takes an irregular time axis.  One ``applyInPandas`` per doc_id
    (shuffle on doc_id — unavoidable in long form; the packed
    ``detrend_sequences`` is the shuffle-free fast path and produces
    identical values, tested).  ``mask_transit=(period, duration, T0)``
    derives the known-signal exclusion mask from ``t``, as in the packed
    op."""
    params = dict(params, method=method)
    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("t", LongType(), False),
        StructField("y", DoubleType(), True),
        StructField("trend", DoubleType(), True),
        StructField("flat", DoubleType(), True),
    ])

    def run(key, pdf):          # unannotated, as in _reassemble
        pdf = pdf.sort_values("t")
        t = pdf["t"].to_numpy(dtype=np.float64)
        y = pdf["y"].to_numpy(dtype=np.float64)
        res = detrend_series(t, y, mask=_mask_of(t, transit=mask_transit),
                             **params)
        return pd.DataFrame({
            "doc_id": np.repeat(key[0], len(t)),
            "t": t.astype(np.int64),
            "y": y,
            "trend": res.trend_lc,
            "flat": res.flatten_lc,
        })

    return points.groupBy("doc_id").applyInPandas(run, schema=schema)


def split_chunks(df: DataFrame, chunk_size: int, overlap: int) -> DataFrame:
    """Explode long sequences into overlapping chunk rows.

    Each chunk row carries ``lead`` (number of overlap tokens prepended) and
    ``core`` (number of tokens this chunk owns); short rows pass through as a
    single chunk.  The per-row token-array invariant is preserved: trimming
    ``lead:lead+core`` and concatenating by chunk_id rebuilds ``tokens``
    exactly (tested).
    """

    def split(pdf: pd.DataFrame):
        for toks in pdf["tokens"]:
            toks = np.asarray(toks, dtype=np.int32)
            n = len(toks)
            n_chunks = max(1, math.ceil(n / chunk_size))
            lo = np.arange(n_chunks, dtype=np.int64) * chunk_size
            hi = np.minimum(lo + chunk_size, n)
            lead = np.minimum(overlap, lo)
            tail = np.minimum(overlap, n - hi)
            yield {"chunk_id": np.arange(n_chunks, dtype=np.int32),
                   "t0": lo, "lead": lead, "core": hi - lo,
                   "tokens": [toks[a:b] for a, b in zip(lo - lead,
                                                        hi + tail)]}

    return packed_map(df, split, CHUNK_SCHEMA,
                      carry=("doc_id", "n_tok", "source"))
