"""Every detrending method runs end-to-end through the pipeline kernel and
produces a sane trend on the reference's seeded synthetic series.

Reference-exact methods are covered bitwise in test_kernels_parity; here the
whole 27-method surface is exercised (finite output, trend tracks the
injected sin to a method-appropriate tolerance) — the "a user of the
reference could run every method" contract.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import REFERENCE_PATH, synthetic_series
from wotan_spark.constants import METHODS
from wotan_spark.kernels.detrend import detrend_series

PARAMS = {
    "savgol": dict(window_length=31),
    "medfilt": dict(window_length=31),
    "supersmoother": dict(window_length=1.0),
    "gp": dict(window_length=0.5, kernel="squared_exp", kernel_size=5.0),
    "hodges": dict(window_length=0.25),  # O(w^2)
    "pspline": dict(window_length=0.5, max_splines=30),
}
TOL = {  # max |trend - (1 + sin(t)/1000)| on the noise-free part
    "default": 5e-4,
    "cofiam": 2e-3, "cosine": 2e-3, "ridge": 2e-3, "lasso": 5e-3,
    "elasticnet": 5e-3, "gp": 5e-3, "supersmoother": 2e-3, "pspline": 2e-3,
    "hspline": 2e-3, "savgol": 2e-3,
}


@pytest.mark.parametrize("method", METHODS)
def test_method_runs_and_tracks_trend(method):
    time, flux = synthetic_series(points=700)
    kwargs = PARAMS.get(method, dict(window_length=0.5))
    res = detrend_series(time, flux, method=method, **kwargs)
    trend = res.trend_lc
    finite = np.isfinite(trend)
    assert finite.sum() > 500, f"{method}: too few finite trend points"
    truth = 1 + np.sin(time) / 700
    # judge interior only (edges are method-specific)
    sl = slice(60, -60)
    err = np.nanmedian(np.abs(trend[sl] - truth[sl]))
    tol = TOL.get(method, TOL["default"])
    assert err < tol, f"{method}: median trend error {err:.2e} > {tol}"
    # flatten sanity
    flat = res.flatten_lc
    assert abs(np.nanmean(flat) - 1.0) < 5e-3


def test_gp_periodic_and_matern_variants():
    time, flux = synthetic_series(points=400)
    for kw in (dict(kernel="matern", kernel_size=5.0),
               dict(kernel="periodic", kernel_size=1.0, kernel_period=6.28),
               dict(kernel="periodic_auto", kernel_size=1.0)):
        res = detrend_series(time, flux, method="gp", window_length=0.5, **kw)
        assert np.isfinite(res.trend_lc).sum() > 300


def test_pspline_returns_nsplines():
    time, flux = synthetic_series(points=500)
    res = detrend_series(time, flux, method="pspline", window_length=0.5,
                         max_splines=30)
    assert len(res.nsplines) >= 1
    assert np.all(res.nsplines >= 1)


def test_robust_cosine_and_masked_lowess():
    time, flux = synthetic_series(points=600)
    mask = np.zeros(len(time), dtype=bool)
    mask[100:130] = True  # exclude the injected block
    r1 = detrend_series(time, flux, method="cosine", window_length=1.0,
                        robust=True, mask=mask)
    r2 = detrend_series(time, flux, method="lowess", window_length=1.0,
                        mask=mask)
    for r in (r1, r2):
        assert np.isfinite(r.trend_lc).sum() > 500


# the reference ``flatten`` parameter list (wotan/flatten.py:24-43)
REFERENCE_FLATTEN_PARAMS = [
    "time", "flux", "window_length", "edge_cutoff", "break_tolerance",
    "cval", "return_trend", "method", "kernel", "kernel_size",
    "kernel_period", "proportiontocut", "robust", "max_splines",
    "stdev_cut", "return_nsplines", "mask", "verbose"]


def test_flatten_dropin_signature_and_returns():
    """The top-level ``flatten`` accepts the reference's exact parameter
    list and reproduces its return-shape contract, so reference call sites
    run unchanged (asserted against the pinned list, and the pinned list
    against the reference function's own signature when its source is
    present)."""
    import ast
    import inspect
    import os

    from wotan_spark.compat import flatten

    assert list(inspect.signature(flatten).parameters) == \
        REFERENCE_FLATTEN_PARAMS
    ref_src = os.path.join(REFERENCE_PATH, "wotan", "flatten.py")
    if os.path.exists(ref_src):
        # the reference module imports scipy (absent here), so read its
        # signature from source instead of importing it
        with open(ref_src) as fh:
            tree = ast.parse(fh.read())
        fn = next(n for n in tree.body
                  if isinstance(n, ast.FunctionDef) and n.name == "flatten")
        assert [a.arg for a in fn.args.args] == REFERENCE_FLATTEN_PARAMS

    time, flux = synthetic_series(points=300)
    f = flatten(time, flux, window_length=0.5, method="median")
    assert f.shape == time.shape
    f2, tr = flatten(time, flux, window_length=0.5, method="median",
                     return_trend=True)
    np.testing.assert_array_equal(f, f2)
    assert tr.shape == time.shape
    f3, tr3, nspl = flatten(time, flux, window_length=0.5, method="pspline",
                            max_splines=30, return_trend=True,
                            return_nsplines=True)
    assert len(nspl) >= 1
