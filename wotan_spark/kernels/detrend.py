"""Per-series detrending pipeline: the engine's array-level core.

Re-creates the reference ``flatten`` lifecycle (wotan/flatten.py:24-336) on
one (time, flux[, mask]) series:

    validate -> resolve defaults -> invert mask -> NaN-compress ->
    gap-segment -> per-segment trend estimate -> reassemble ->
    transplant into NaN-shaped output -> trend==0 -> NaN -> flux/trend

``detrend_batch`` runs the lifecycle over every series of an Arrow batch
at once inside the packed pandas UDF: the window estimators see the
segments of all series together (one call per window length and row
block, ``kernels.windows.slide_segments``), while global fits stay per
segment.  ``detrend_series`` is the batch of one, and the NumPy oracle
used by the test-suite.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from wotan_spark import constants
from wotan_spark.kernels import filters, lowess as lowess_mod, regress, splines, trig
from wotan_spark.kernels.series import segment_boundaries
from wotan_spark.kernels.windows import default_cval, slide_segments


@dataclass
class DetrendResult:
    flatten_lc: np.ndarray
    trend_lc: np.ndarray
    nsplines: np.ndarray


def detrend_series(
    time,
    flux,
    window_length: float | None = None,
    edge_cutoff: float = 0,
    break_tolerance: float | None = None,
    cval=None,
    method: str = "biweight",
    kernel: str | None = None,
    kernel_size: float | None = None,
    kernel_period: float | None = None,
    proportiontocut: float = constants.PROPORTIONTOCUT,
    robust: bool = False,
    max_splines: int = constants.SPLINE_MAX_SPLINES,
    stdev_cut: int = constants.SPLINE_STDEV_CUT,
    mask=None,
) -> DetrendResult:
    """One series: ``detrend_batch`` over a batch of one."""
    return detrend_batch(
        [(time, flux, mask)], window_length=window_length,
        edge_cutoff=edge_cutoff, break_tolerance=break_tolerance, cval=cval,
        method=method, kernel=kernel, kernel_size=kernel_size,
        kernel_period=kernel_period, proportiontocut=proportiontocut,
        robust=robust, max_splines=max_splines, stdev_cut=stdev_cut)[0]


def detrend_batch(
    series,
    window_length: float | None = None,
    edge_cutoff: float = 0,
    break_tolerance: float | None = None,
    cval=None,
    method: str = "biweight",
    kernel: str | None = None,
    kernel_size: float | None = None,
    kernel_period: float | None = None,
    proportiontocut: float = constants.PROPORTIONTOCUT,
    robust: bool = False,
    max_splines: int = constants.SPLINE_MAX_SPLINES,
    stdev_cut: int = constants.SPLINE_STDEV_CUT,
) -> list[DetrendResult]:
    """Detrend every ``(time, flux, mask)`` of ``series`` (``mask`` None or
    True = exclude) with one set of parameters; bit-equal to one
    ``detrend_series`` call per series."""
    if method not in constants.METHODS:
        raise ValueError(f"Unknown detrending method {method!r}")
    if not isinstance(proportiontocut, float) or not (0.0 < proportiontocut < 0.5):
        raise ValueError("proportiontocut must be >0 and <0.5")

    if cval is None:
        cval = default_cval(method, proportiontocut)
    supersmoother_alpha = None
    if method == "supersmoother" and cval is not None and 0 < cval < 10:
        supersmoother_alpha = cval

    if window_length is None:
        window_length = 2  # so break_tolerance defaults to 1 for supersmoother
    if break_tolerance is None:
        break_tolerance = window_length / 2
    if break_tolerance == 0:
        break_tolerance = np.inf

    def segment_trend(time, tv, fv, mv):
        """Trend of one segment for the global-fit / filter methods."""
        if method == "lowess":
            return lowess_mod.lowess(tv, fv, mv, window_length)
        if method == "hspline":
            return splines.hspline(tv, fv, mv, knot_distance=window_length)
        if method == "rspline":
            return splines.rspline(tv, fv, mv, window_length)
        if method == "cofiam":
            return trig.detrend_cofiam(tv, fv, window_length)
        if method == "cosine":
            return trig.detrend_cosine(tv, fv, window_length, robust, mv)
        if method == "savgol":
            wl = int(window_length)
            if wl % 2 == 0:
                wl += 1
            return filters.savgol_filter(fv, wl, polyorder=int(cval))
        if method == "medfilt":
            return filters.medfilt(fv, int(window_length))
        if method == "supersmoother":
            from wotan_spark.kernels.smoother import supersmoother_trend
            # Q7: the span is normalized by the *full input* time range
            win = window_length / (np.nanmax(time) - np.nanmin(time))
            return supersmoother_trend(tv, fv, win, alpha=supersmoother_alpha)
        if method == "gp":
            from wotan_spark.kernels.gp import gp_trend
            return gp_trend(tv, fv, mv, kernel, kernel_size, kernel_period,
                            robust)
        if method in ("ridge", "lasso", "elasticnet"):
            return regress.regression_trend(tv, fv, method, window_length,
                                            cval)
        raise ValueError(method)  # pragma: no cover

    sliding = method in constants.SLIDER_METHODS \
        or method in constants.SLOW_SLIDER_METHODS
    rows = []          # per series: (flux, keep, segment trends, nsplines)
    segments = []      # (time, flux, mask) of every sliding segment
    for time, flux, mask in series:
        time = np.asarray(time, dtype=np.float64)
        flux = np.asarray(flux, dtype=np.float64)
        if mask is None:
            mask = np.ones(len(time))
        else:
            # invert on entry: caller marks True = exclude (TLS convention, Q14)
            mask = np.asarray(~np.asarray(mask, dtype=bool), dtype=np.float64)

        keep = ~np.isnan(time * flux)
        t_c = time[keep]
        f_c = flux[keep]
        m_c = mask[keep]

        bounds = segment_boundaries(t_c, break_tolerance)
        parts: list = []
        nsplines: list[float] = []
        for i in range(len(bounds) - 1):
            tv = t_c[bounds[i]:bounds[i + 1]]
            fv = f_c[bounds[i]:bounds[i + 1]]
            mv = m_c[bounds[i]:bounds[i + 1]]
            if len(tv) == 0:
                continue
            if sliding:
                parts.append(len(segments))   # filled in after the batch
                segments.append((tv, fv, mv))
            elif method == "pspline":
                seg, nspl = splines.pspline(tv, fv, edge_cutoff,
                                            max_splines, stdev_cut)
                parts.append(seg)
                nsplines.append(nspl)
            else:
                parts.append(segment_trend(time, tv, fv, mv))
        rows.append((flux, keep, parts, nsplines))

    slid = slide_segments(segments, window_length, edge_cutoff, cval, method)
    out = []
    for flux, keep, parts, nsplines in rows:
        if sliding:
            parts = [slid[j] for j in parts]
        trend_compressed = (np.concatenate(
            [np.asarray(p, dtype=np.float64) for p in parts]) if parts
            else np.zeros(0))
        trend_lc = np.full(len(flux), np.nan)
        trend_lc[np.where(keep)[0]] = trend_compressed
        trend_lc[trend_lc == 0.0] = np.nan  # avoid division by zero (Q10)
        with np.errstate(invalid="ignore", divide="ignore"):
            flatten_lc = flux / trend_lc
        out.append(DetrendResult(flatten_lc, trend_lc,
                                 np.asarray(nsplines, dtype=np.float64)))
    return out
