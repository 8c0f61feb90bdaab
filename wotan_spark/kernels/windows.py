"""Time-windowed sliding robust estimation over a batch of series segments.

Re-creates the window semantics of the reference slider
(``wotan/slider.py:12-91``) with vectorized NumPy instead of a numba
per-point loop:

* window for center ``i`` is the half-open time range
  ``[t_i - W/2, t_i + W/2)`` expressed as index range
  ``[searchsorted(t, t_i - W/2), min(searchsorted(t, t_i + W/2), n-1))`` —
  the ``n-1`` cap means the final point of a segment is never inside any
  window (quirk Q1);
* centers outside ``[min(t)+edge_cutoff, max(t)-edge_cutoff]`` are NaN, with
  ``edge_cutoff`` clamped to ``W/2``;
* masked points are dropped via the reference's negative-sentinel trick
  (``mask 0 -> -1``, keep ``flux*mask > -1e-12``), which also drops genuinely
  negative flux (quirk Q2);
* an empty window yields NaN.

Vectorization strategy: window index bounds come from two ``searchsorted``
calls per segment (identical results to the reference's monotone
two-pointer sweep).  The windows of EVERY segment handed to
``slide_segments`` (all series of an Arrow batch) are then grouped by kept
length, so each length is one dense ``(n_windows, L)`` gather evaluated by
one vectorized estimator call per row block: the interpreter cost is paid
per batch and window length, not per series.
"""

from __future__ import annotations

import numpy as np

from wotan_spark.constants import PROPORTIONTOCUT
from wotan_spark.kernels import robust

_NEG_SENTINEL = -1e-12


def window_bounds(time: np.ndarray, half_window: float) -> tuple[np.ndarray, np.ndarray]:
    """Per-center [start, end) index bounds of the sliding time window."""
    n = len(time)
    starts = np.searchsorted(time, time - half_window, side="left")
    ends = np.minimum(np.searchsorted(time, time + half_window, side="left"), n - 1)
    return starts, ends


_FAST_2D = {
    "mean": lambda F, cval: robust.mean_2d(F),
    "median": lambda F, cval: robust.median_2d(F),
    "biweight": lambda F, cval: robust.m_location_2d(F, cval, "biweight"),
    "andrewsinewave": lambda F, cval: robust.m_location_2d(F, cval, "andrewsinewave"),
    "welsch": lambda F, cval: robust.m_location_2d(F, cval, "welsch"),
    "hodges": lambda F, cval: robust.hodges_2d(F),
    "trim_mean": lambda F, cval: robust.trim_mean_2d(F, cval),
    "winsorize": lambda F, cval: robust.winsorize_2d(F, cval),
    "hampelfilt": lambda F, cval: robust.hampelfilt_2d(F, cval),
    "huber_psi": lambda F, cval: robust.huber_psi_2d(F, cval),
    "tau": lambda F, cval: robust.tau_2d(F, cval),
}

_ITER_2D = {
    "huber": lambda F, cval: robust.huber_location_2d(F, cval),
    "hampel": lambda F, cval: robust.irls_intercept_2d(F, "hampel", cval),
    "ramsay": lambda F, cval: robust.irls_intercept_2d(F, "ramsay", cval),
}


def _center_selection(time: np.ndarray, window_length: float,
                      edge_cutoff: float) -> np.ndarray:
    half_window = window_length / 2.0
    if edge_cutoff > half_window:
        edge_cutoff = half_window
    lo = np.min(time) + edge_cutoff
    hi = np.max(time) - edge_cutoff
    return (time >= lo) & (time <= hi)


def slide_segments(segments, window_length: float, edge_cutoff: float,
                   cval, method: str) -> list[np.ndarray]:
    """Trend of every ``(time, flux, mask)`` segment, one estimator call per
    (kept length, row block) across ALL segments.

    Plan: each segment's centers, window bounds and kept positions are
    those of the reference slider, offset into one concatenated value
    array.  Evaluate: windows are grouped by their KEPT length K —
    ``kept_idx[pos[s] : pos[e]]`` enumerates a window's surviving values
    in order — and each (K, block) is one dense ``(rows, K)`` gather.
    The 2-D estimators are row-independent (row-frozen iteration), so
    the result is bit-equal to evaluating each segment on its own."""
    if not segments:
        return []
    iterative = method in _ITER_2D
    est = _ITER_2D[method] if iterative else _FAST_2D[method]
    offsets = np.cumsum([0] + [len(seg[0]) for seg in segments])
    values = np.empty(offsets[-1])
    keep = np.ones(offsets[-1], dtype=bool)
    centers, starts, ends = [], [], []
    for (time, flux, mask), o in zip(segments, offsets):
        n = len(time)
        if n == 0:
            continue
        if iterative:
            # reference running_segment_slow: masked points become NaN
            mf = flux * np.where(mask == 0.0, np.nan, mask)
            keep[o:o + n] = ~np.isnan(mf)
        else:
            # negative-sentinel drop; a segment with nothing to drop keeps
            # every value (NaN included) as the dense reference loop does
            mf = flux * np.where(mask == 0.0, -1.0, mask)
            drop = mf <= _NEG_SENTINEL
            if drop.any():
                keep[o:o + n] = ~drop
        values[o:o + n] = mf
        c = np.flatnonzero(_center_selection(time, window_length,
                                             edge_cutoff))
        s, e = window_bounds(time, window_length / 2.0)
        centers.append(c + o)
        starts.append(s[c] + o)
        ends.append(e[c] + o)

    out = np.full(offsets[-1], np.nan)
    if sum(len(c) for c in centers):
        centers = np.concatenate(centers)
        kept_idx = np.flatnonzero(keep)
        pos = np.concatenate(([0], np.cumsum(keep)))
        ks = pos[np.concatenate(starts)]
        counts = pos[np.concatenate(ends)] - ks
        order = np.argsort(counts, kind="stable")
        cuts = np.flatnonzero(np.diff(counts[order])) + 1
        # too-small windows stay NaN: empty ones, and (reference) those
        # with <= 1 point for the iterative estimators
        min_len = 2 if iterative else 1
        for g in np.split(order, cuts):
            K = int(counts[g[0]])
            if K < min_len:
                continue
            # row blocks keep each gathered (block, K) matrix inside L2
            # cache: the estimators are memory-bandwidth-bound under many
            # concurrent workers
            block = max(int(32768 / K), 256)
            offs = np.arange(K)[None, :]
            for b in range(0, len(g), block):
                gb = g[b:b + block]
                rows = kept_idx[ks[gb][:, None] + offs]
                out[centers[gb]] = est(values[rows], cval)
    return np.split(out, offsets[1:-1])


def running_slider(time: np.ndarray, flux: np.ndarray, mask: np.ndarray,
                   window_length: float, edge_cutoff: float, cval,
                   method: str) -> np.ndarray:
    """Fast-path slider (reference ``running_segment``, wotan/slider.py:12-91)
    over one segment: a batch of one."""
    if method not in _FAST_2D:
        raise ValueError(method)
    return slide_segments([(time, flux, mask)], window_length, edge_cutoff,
                          cval, method)[0]


def running_slider_iterative(time: np.ndarray, flux: np.ndarray, mask: np.ndarray,
                             window_length: float, edge_cutoff: float, cval,
                             method: str) -> np.ndarray:
    """Iterative-estimator slider (reference ``running_segment_slow``,
    wotan/slider.py:94-165) over one segment: NaN-masking, windows with
    <=1 point give NaN.  The row-vectorized 2-D IRLS is bit-equal per row
    to the 1-D reference twins in kernels/robust.py."""
    if method not in _ITER_2D:
        raise ValueError(method)
    return slide_segments([(time, flux, mask)], window_length, edge_cutoff,
                          cval, method)[0]


def default_cval(method: str, proportiontocut: float = PROPORTIONTOCUT):
    """Per-method default tuning constant (reference wotan/flatten.py:146-173)."""
    defaults = {
        "biweight": 5,
        "andrewsinewave": 1.339,
        "welsch": 2.11,
        "huber": 1.5,
        "huber_psi": 1.28,
        "trim_mean": proportiontocut,
        "winsorize": proportiontocut,
        "hampelfilt": 3,
        "tau": 4.5,
        "hampel": (1.7, 3.4, 8.5),
        "ramsay": 0.3,
        "savgol": 2,
        "ridge": 1,
        "lasso": 1,
        "elasticnet": 1,
    }
    return defaults.get(method, 0)
