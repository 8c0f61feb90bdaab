"""Kernel goldens: SHA-256 pins of ``detrend_series`` output bytes.

The ref-exact suites (``test_kernels_parity.py``, ``test_property_parity.py``)
need the reference checkout and skip without it; these pins need nothing.
They were generated from the kernels before the estimators were batched
across series, so any change to a window estimator's bits fails here.

For every window method (the 14 row-vectorized sliders plus ``lowess``,
``medfilt`` and ``savgol``) each case hashes ``flat`` then ``trend`` as
little-endian float64 bytes, every NaN first replaced by one fixed NaN bit
pattern.  The cases use the ``test_property_parity._series`` shapes:
duplicate timestamps, gaps, a NaN run, a known-signal mask with
``edge_cutoff > 0``, and negative flux (the sentinel-dropped windows).

Regenerate (only for an intended change of kernel output) with
``python -m tests.test_kernel_goldens``.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

from wotan_spark import constants
from wotan_spark.kernels.detrend import detrend_series
from wotan_spark.kernels.series import transit_mask

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "kernel_goldens.json")

METHODS = (constants.SLIDER_METHODS + constants.SLOW_SLIDER_METHODS
           + ["lowess", "medfilt", "savgol"])
_CANONICAL_NAN = np.frombuffer(b"\x00\x00\x00\x00\x00\x00\xf8\x7f",
                               dtype="<f8")[0]


def _series(seed: int, n: int, dup_frac: float, gap_frac: float):
    """Same shape as ``test_property_parity._series``."""
    rng = np.random.RandomState(seed)
    dt = rng.exponential(0.03, n)
    dt[rng.rand(n) < dup_frac] = 0.0          # duplicate timestamps
    dt[rng.rand(n) < gap_frac] = rng.uniform(1.0, 3.0)  # segment gaps
    time = np.cumsum(dt)
    flux = 1 + 0.001 * np.sin(time) + rng.normal(0, 1e-4, n)
    return time, flux


def cases() -> dict[str, tuple]:
    """name -> (time, flux, mask or None, edge_cutoff)."""
    out = {}
    time, flux = _series(11, 240, 0.0, 0.0)
    out["plain"] = (time, flux, None, 0.0)
    time, flux = _series(12, 300, 0.1, 0.05)
    flux[40:55] = np.nan                       # NaN run
    flux[200] = np.nan
    out["dup_gap_nan"] = (time, flux, None, 0.0)
    time, flux = _series(13, 280, 0.1, 0.05)
    flux[100:108] = np.nan
    out["mask_edge"] = (time, flux, transit_mask(time, 2.0, 0.3, 0.5), 0.15)
    time, flux = _series(14, 220, 0.05, 0.02)
    flux = flux - 1.0                          # about half the values < 0
    out["negative"] = (time, flux, None, 0.05)
    return out


def _params(method: str) -> dict:
    if method in ("medfilt", "savgol"):   # window in cadences
        return {"window_length": 7, "break_tolerance": 0.5}
    if method == "lowess":   # one segment: lowess needs span >= window
        return {"window_length": 0.4, "break_tolerance": 0}
    return {"window_length": 0.4}


def digest(flat: np.ndarray, trend: np.ndarray) -> str:
    h = hashlib.sha256()
    for a in (flat, trend):
        a = np.asarray(a, dtype="<f8")
        h.update(np.where(np.isnan(a), _CANONICAL_NAN, a).tobytes())
    return h.hexdigest()


def live_digests() -> dict[str, str]:
    out = {}
    for method in METHODS:
        for name, (time, flux, mask, edge) in cases().items():
            with np.errstate(all="ignore"):
                res = detrend_series(time, flux, method=method, mask=mask,
                                     edge_cutoff=edge, **_params(method))
            out[f"{method}/{name}"] = digest(res.flatten_lc, res.trend_lc)
    return out


@pytest.fixture(scope="module")
def live():
    return live_digests()


@pytest.mark.parametrize("method", METHODS)
def test_kernel_golden(method, live):
    with open(GOLDENS) as fh:
        pins = json.load(fh)
    for name in cases():
        key = f"{method}/{name}"
        assert live[key] == pins[key], key


if __name__ == "__main__":
    os.makedirs(os.path.dirname(GOLDENS), exist_ok=True)
    with open(GOLDENS, "w") as fh:
        json.dump(live_digests(), fh, indent=1, sort_keys=True)
        fh.write("\n")
