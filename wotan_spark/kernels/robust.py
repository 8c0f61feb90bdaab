"""Robust location estimators, vectorized across windows.

Each estimator comes in two shapes:

* ``*_2d(F, ...)`` — ``F`` is a dense ``(n_windows, window_len)`` float64
  matrix (all windows share one length); returns an ``(n_windows,)`` vector.
  This is the engine fast path: one NumPy pass evaluates every window of a
  given length at once, replacing the reference's per-point numba loop
  (``wotan/slider.py:12-91``).
* ``*_1d(f, ...)`` — single ragged window (used when masking makes window
  contents irregular).

Semantics replicate the reference estimators exactly
(``wotan/location_estimates.py``), including its documented quirks:
``huber_psi``'s post-clip denominator (Q3), ``tau``'s weight-based inclusion
test (Q4), and ``winsorize``'s ``int(p*n)+1`` tail index.
"""

from __future__ import annotations

import numpy as np

from wotan_spark.constants import FTOL, MAXITER_HUBER, Z75, gaussian_cdf, gaussian_pdf

_TINY = 1e-10


def _median_rows_inplace(A: np.ndarray) -> np.ndarray:
    """Row medians via in-place partition of a caller-owned scratch matrix
    — ``np.median`` always copies its input (it must not mutate), which is
    the dominant allocation inside the per-iteration IRLS scale updates.
    Bit-identical to ``np.median(A, axis=1)``: same partition network, and
    the even-length middle pair is averaged with the same (a + b) / 2."""
    L = A.shape[1]
    if L % 2:
        A.partition(L // 2, axis=1)
        return A[:, L // 2].copy()
    A.partition((L // 2 - 1, L // 2), axis=1)
    return (A[:, L // 2 - 1] + A[:, L // 2]) / 2.0


# ---------------------------------------------------------------------------
# Iterated M-estimators: biweight / andrewsinewave / welsch
# (reference: wotan/location_estimates.py:8-63)
# ---------------------------------------------------------------------------

def _m_weights(u: np.ndarray, kind: str) -> np.ndarray:
    if kind == "biweight":
        w = (1.0 - u ** 2) ** 2
        w[np.abs(u) >= 1.0] = 0.0
    elif kind == "andrewsinewave":
        u = np.where(u == 0.0, _TINY, u)
        w = np.sin(u) / u
        w[np.abs(u) >= np.pi] = 0.0
    elif kind == "welsch":
        w = np.exp(-(u ** 2) / 2.0)
        w[np.abs(u) >= 1.0] = 0.0
    else:  # pragma: no cover
        raise ValueError(kind)
    return w


def m_location_2d(F: np.ndarray, cval: float, kind: str) -> np.ndarray:
    """Newton-Raphson M-location per row, frozen at per-row convergence.

    Matches ``location_iter`` (wotan/location_estimates.py:8-63): init at the
    median, MAD scale (MAD==0 -> return median), iterate until the per-window
    step is <= FTOL.  Rows are frozen the moment they individually converge so
    iteration counts match the scalar reference loop.

    Memory profile: preallocated scratch buffers and full-matrix masked
    updates (no per-iteration fancy-indexed gathers) — this kernel is
    bandwidth-bound under many concurrent executor workers, so fewer
    temporaries translate directly into multi-core scaling.
    """
    med = np.median(F, axis=1)
    d = F - med[:, None]
    np.abs(d, out=d)
    mad = np.median(d, axis=1)
    center = med.copy()
    active = mad != 0.0
    inv = np.zeros_like(mad)
    np.divide(1.0, cval * mad, out=inv, where=active)
    prev = center.copy()
    u = np.empty_like(F)
    w = np.empty_like(F)
    newc = np.empty_like(center)
    n_active = int(active.sum())
    while n_active:
        # once few rows remain, gather-compute beats full-matrix waste
        if n_active * 4 < len(center):
            idx = np.flatnonzero(active)
            dg = F[idx] - center[idx, None]
            ug = dg * inv[idx, None]
            wg = _m_weights(ug, kind)
            with np.errstate(invalid="ignore", divide="ignore"):
                step = np.einsum("ij,ij->i", dg, wg) / wg.sum(axis=1)
            center[idx] += step
            keep = np.abs(prev[idx] - center[idx]) > FTOL
            prev[idx] = center[idx]
            active[idx[~keep]] = False
            n_active = int(keep.sum())
            continue
        np.subtract(F, center[:, None], out=d)
        np.multiply(d, inv[:, None], out=u)
        if kind == "biweight":
            np.multiply(u, u, out=w)
            np.subtract(1.0, w, out=w)
            np.multiply(w, w, out=w)
            np.abs(u, out=u)
            w[u >= 1.0] = 0.0
        elif kind == "andrewsinewave":
            u[u == 0.0] = _TINY
            np.sin(u, out=w)
            np.divide(w, u, out=w)
            np.abs(u, out=u)
            w[u >= np.pi] = 0.0
        else:  # welsch
            np.multiply(u, u, out=w)
            w *= -0.5
            np.exp(w, out=w)
            np.abs(u, out=u)
            w[u >= 1.0] = 0.0
        with np.errstate(invalid="ignore", divide="ignore"):
            step = np.einsum("ij,ij->i", d, w) / w.sum(axis=1)
        np.add(center, step, out=newc)
        center = np.where(active, newc, center)
        delta = prev - center
        # NaN delta compares False -> row stops (same as the reference's
        # `while abs(delta) > FTOL` exiting on NaN).
        still = np.abs(delta) > FTOL
        prev = center.copy()
        active &= still
        n_active = int(active.sum())
    return center


# ---------------------------------------------------------------------------
# One-pass estimators
# ---------------------------------------------------------------------------

def mean_2d(F: np.ndarray) -> np.ndarray:
    return np.mean(F, axis=1)


def median_2d(F: np.ndarray) -> np.ndarray:
    return np.median(F, axis=1)


def trim_mean_2d(F: np.ndarray, proportiontocut: float) -> np.ndarray:
    """Mean after dropping int(n*p) points from each sorted tail
    (wotan/location_estimates.py:116-122)."""
    n = F.shape[1]
    cut = int(n * proportiontocut)
    S = np.sort(F, axis=1)
    body = S[:, cut:n - cut]
    if body.shape[1] == 0:
        return np.full(F.shape[0], np.nan)
    return np.mean(body, axis=1)


def winsorize_2d(F: np.ndarray, proportiontocut: float) -> np.ndarray:
    """Mean after replacing int(p*n)+1 tail values with the boundary value
    (note the +1 — wotan/location_estimates.py:125-134)."""
    n = F.shape[1]
    idx = int(proportiontocut * n) + 1
    if idx < 0:
        idx = 0
    S = np.sort(F, axis=1)
    if idx >= n:
        # the reference would raise an IndexError here; windows this small
        # never winsorize in practice, mirror with NaN
        return np.full(F.shape[0], np.nan)
    S[:, :idx] = S[:, idx][:, None]
    S[:, n - idx:] = S[:, n - idx][:, None]
    return np.mean(S, axis=1)


def hampelfilt_2d(F: np.ndarray, cval: float) -> np.ndarray:
    """Replace values >= cval*MAD from the median with the median, then mean
    (wotan/location_estimates.py:101-113)."""
    med = np.median(F, axis=1)
    diff = np.abs(F - med[:, None])
    mad = np.median(diff, axis=1)
    out = np.where(diff >= (cval * mad)[:, None], med[:, None], F)
    return np.mean(out, axis=1)


def huber_psi_2d(F: np.ndarray, cval: float) -> np.ndarray:
    """One-step Huber psi (wotan/location_estimates.py:88-98).

    Quirk Q3: the denominator counts |y|<=cval *after* clipping, and MAD==0
    yields NaN (division by zero left unguarded in the reference).
    """
    med = np.median(F, axis=1)
    mad = np.median(np.abs(F - med[:, None]), axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        y = (F - med[:, None]) / mad[:, None]
    y = np.clip(y, -cval, cval)  # NaN passes through untouched
    a = np.sum(y, axis=1)
    b = np.sum(np.abs(y) <= cval, axis=1).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        return med + mad * a / b


def tau_2d(F: np.ndarray, cval: float) -> np.ndarray:
    """Yohai-Zamar tau location (wotan/location_estimates.py:66-85).

    Quirk Q4: the inclusion test is on the *weight* |(1-(y/c)^2)^2| <= cval,
    not on the residual.
    """
    med = np.median(F, axis=1)
    mad = np.median(np.abs(F - med[:, None]), axis=1)
    s = 0.675 * mad  # the reference hardcodes 0.675, not Phi^-1(0.75)
    with np.errstate(invalid="ignore", divide="ignore"):
        y = (F - med[:, None]) / s[:, None]
        w = (1.0 - (y / cval) ** 2) ** 2
    keep = np.abs(w) <= cval
    w = np.where(keep, w, 0.0)
    nom = np.sum(w * F, axis=1)
    den = np.sum(w, axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        return nom / den


def hodges_2d(F: np.ndarray) -> np.ndarray:
    n = F.shape[1]
    iu, ju = np.triu_indices(n)
    pair = (F[:, iu] + F[:, ju]) / 2.0
    return np.median(pair, axis=1)


# ---------------------------------------------------------------------------
# Joint Huber location/scale ("Proposal 2") — reference runs
# statsmodels.robust.scale.Huber (wotan/slider.py:137-148) with
# maxiter=1000, tol=1e-6, falling back to the median on any failure (Q13).
# ---------------------------------------------------------------------------

def huber_location_1d(f: np.ndarray, cval: float,
                      maxiter: int = MAXITER_HUBER, tol: float = FTOL) -> float:
    try:
        a = np.asarray(f, dtype=np.float64)
        n = a.shape[0] - 1
        mu = np.median(a)
        scale = np.median(np.abs(a - mu)) / Z75
        tmp = 2.0 * gaussian_cdf(cval) - 1.0
        gamma = tmp + cval ** 2 * (1.0 - tmp) - 2.0 * cval * gaussian_pdf(cval)
        for _ in range(maxiter):
            nmu = np.clip(a, mu - cval * scale, mu + cval * scale).sum() / a.shape[0]
            subset = np.abs((a - mu) / scale) <= cval
            card = subset.sum()
            num = np.sum(subset * (a - nmu) ** 2)
            den = n * gamma - (a.shape[0] - card) * cval ** 2
            with np.errstate(invalid="ignore", divide="ignore"):
                nscale = np.sqrt(num / den)  # NaN -> non-convergence path
            if (abs(scale - nscale) <= nscale * tol
                    and abs(mu - nmu) <= nscale * tol):
                return float(nmu)
            mu, scale = nmu, nscale
        raise ValueError("huber did not converge")
    except Exception:
        return float(np.median(f))


# ---------------------------------------------------------------------------
# IRLS intercept-only robust regression (reference: statsmodels RLM with
# Hampel / RamsayE norms, wotan/slider.py:149-164; weight formulas documented
# in wotan/norms.py:25-62).
# ---------------------------------------------------------------------------

def _hampel_weights(z: np.ndarray, a: float, b: float, c: float,
                    out: np.ndarray | None = None) -> np.ndarray:
    # piecewise assignment instead of a nested full-array where-chain (the
    # chain evaluates every branch expression over the whole matrix);
    # per-band divisions are the same elementwise IEEE ops, so the weights
    # are bit-identical.  az=NaN falls through every band to 0.0, exactly
    # as the where-chain's innermost else did.
    az = np.abs(z)
    az[az == 0.0] = 1e-100
    w = out if out is not None else np.empty_like(az)
    w[:] = 0.0
    w[az <= a] = 1.0
    m = (az > a) & (az <= b)
    w[m] = a / az[m]
    m = (az > b) & (az <= c)
    azm = az[m]
    w[m] = a * (c - azm) / (azm * (c - b))
    w[np.isnan(w)] = 1.0
    return w


def _ramsay_weights(z: np.ndarray, a: float,
                    out: np.ndarray | None = None) -> np.ndarray:
    if out is None:
        return np.exp(-a * np.abs(z))
    np.abs(z, out=out)
    np.multiply(out, -a, out=out)    # == (-a) * |z| (commutative, exact)
    np.exp(out, out=out)
    return out


def huber_location_2d(Fm: np.ndarray, cval: float,
                      maxiter: int = MAXITER_HUBER,
                      tol: float = FTOL) -> np.ndarray:
    """Row-vectorized joint Huber location/scale: identical per-row math to
    ``huber_location_1d`` (rows freeze at their own convergence iteration,
    so results are bit-equal to the 1D loop), evaluated across all windows
    of one length at once.  Non-converged rows fall back to the row median
    (Q13)."""
    with np.errstate(all="ignore"):
        A = np.asarray(Fm, dtype=np.float64)
        R, L = A.shape
        n = L - 1
        mu = np.median(A, axis=1)
        scale = np.median(np.abs(A - mu[:, None]), axis=1) / Z75
        tmp = 2.0 * gaussian_cdf(cval) - 1.0
        gamma = tmp + cval ** 2 * (1.0 - tmp) - 2.0 * cval * gaussian_pdf(cval)
        out = np.median(A, axis=1)          # default: Q13 median fallback
        active = np.ones(R, dtype=bool)
        bufC = np.empty_like(A)
        bufZ = np.empty_like(A)
        for _ in range(maxiter):
            if not active.any():
                break
            idx = np.where(active)[0]
            k = len(idx)
            a = A[idx]
            m = mu[idx]
            s = scale[idx]
            clipped = np.clip(a, (m - cval * s)[:, None],
                              (m + cval * s)[:, None], out=bufC[:k])
            nmu = clipped.sum(axis=1) / L
            zz = np.subtract(a, m[:, None], out=bufZ[:k])
            np.divide(zz, s[:, None], out=zz)
            np.abs(zz, out=zz)
            subset = zz <= cval
            card = subset.sum(axis=1)
            d = np.subtract(a, nmu[:, None], out=bufC[:k])
            np.multiply(d, d, out=d)
            np.multiply(d, subset, out=d)   # == subset * d**2 (commutative)
            num = np.sum(d, axis=1)
            den = n * gamma - (L - card) * cval ** 2
            nscale = np.sqrt(num / den)
            done = (np.abs(s - nscale) <= nscale * tol) \
                & (np.abs(m - nmu) <= nscale * tol)
            out[idx[done]] = nmu[done]
            active[idx[done]] = False
            mu[idx] = nmu
            scale[idx] = nscale
        return out


def irls_intercept_2d(Fm: np.ndarray, norm: str, cval,
                      maxiter: int = 50, tol: float = 1e-8) -> np.ndarray:
    """Row-vectorized twin of ``irls_intercept_1d`` (bit-equal per row via
    freeze-at-exit semantics).  The per-iteration matrices live in three
    scratch buffers (resid/z, |resid| for the in-place partition median,
    weights) — the loop's cost is memory traffic, not flops, and
    ``np.median``'s internal copy was the largest single allocation."""
    with np.errstate(all="ignore"):
        A = np.asarray(Fm, dtype=np.float64)
        R, _ = A.shape
        mu = A.mean(axis=1)
        out = mu.copy()
        active = np.ones(R, dtype=bool)
        bufR = np.empty_like(A)
        bufS = np.empty_like(A)
        bufW = np.empty_like(A)
        for _ in range(maxiter):
            if not active.any():
                break
            idx = np.where(active)[0]
            k = len(idx)
            a = A[idx]
            m = mu[idx]
            resid = np.subtract(a, m[:, None], out=bufR[:k])
            np.abs(resid, out=bufS[:k])
            scale = _median_rows_inplace(bufS[:k]) / Z75
            stop0 = scale == 0.0
            out[idx[stop0]] = m[stop0]
            z = np.divide(resid, scale[:, None], out=bufR[:k])
            if norm == "hampel":
                w = _hampel_weights(z, cval[0], cval[1], cval[2],
                                    out=bufW[:k])
            elif norm == "ramsay":
                w = _ramsay_weights(z, cval, out=bufW[:k])
            else:  # pragma: no cover
                raise ValueError(norm)
            sw = w.sum(axis=1)
            stop_sw = (sw == 0.0) & ~stop0
            out[idx[stop_sw]] = m[stop_sw]
            wa = np.multiply(w, a, out=bufS[:k])
            nmu = np.sum(wa, axis=1) / sw
            done = (np.abs(nmu - m)
                    <= tol * np.maximum(1.0, np.abs(nmu))) & ~stop0 & ~stop_sw
            out[idx[done]] = nmu[done]
            frozen = stop0 | stop_sw | done
            active[idx[frozen]] = False
            live = ~frozen
            mu[idx[live]] = nmu[live]
            out[idx[live]] = nmu[live]       # maxiter-exhaust value
        return out


def irls_intercept_1d(f: np.ndarray, norm: str, cval,
                      maxiter: int = 50, tol: float = 1e-8) -> float:
    """Intercept-only IRLS M-regression: starts at the mean (OLS), scales by
    MAD-about-zero of residuals each round, reweights until the intercept is
    stationary."""
    f = np.asarray(f, dtype=np.float64)
    mu = f.mean()
    for _ in range(maxiter):
        resid = f - mu
        scale = np.median(np.abs(resid)) / Z75
        if scale == 0.0:
            return float(mu)
        z = resid / scale
        if norm == "hampel":
            w = _hampel_weights(z, cval[0], cval[1], cval[2])
        elif norm == "ramsay":
            w = _ramsay_weights(z, cval)
        else:  # pragma: no cover
            raise ValueError(norm)
        sw = w.sum()
        if sw == 0.0:
            return float(mu)
        nmu = float(np.sum(w * f) / sw)
        if abs(nmu - mu) <= tol * max(1.0, abs(nmu)):
            return nmu
        mu = nmu
    return float(mu)
