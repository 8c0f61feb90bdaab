"""Batch equivalence: one ``detrend_batch`` call over a mix of series equals
one ``detrend_series`` call per series, bit for bit, for every window
method.  The mix reuses the golden cases (duplicates, gaps, NaN runs, a
mask, negative flux) and adds degenerate series and chunk rows."""

from __future__ import annotations

import numpy as np
import pytest

from tests.test_kernel_goldens import METHODS, _params, _series, cases, digest
from wotan_spark.kernels.detrend import detrend_batch, detrend_series


def _batch_series() -> list[tuple]:
    """Every golden case, the degenerate series, and overlapping chunk
    rows of one long series (as ``split_chunks`` cuts them)."""
    out = [(t, f, m) for t, f, m, _ in cases().values()]
    out += [(np.zeros(0), np.zeros(0), None),                  # empty
            (np.arange(20.0), np.full(20, np.nan), None),      # all NaN
            (np.array([0.5]), np.array([1.0]), None)]          # 1 point
    time, flux = _series(15, 900, 0.05, 0.01)
    size, overlap = 256, 30
    for lo in range(0, len(time), size):
        hi = min(lo + size, len(time))
        sl = slice(lo - min(overlap, lo), hi + min(overlap, len(time) - hi))
        out.append((time[sl], flux[sl], None))
    return out


@pytest.mark.parametrize("edge_cutoff", [0.0, 0.15])
@pytest.mark.parametrize("method", METHODS)
def test_batch_equals_per_series_calls(method, edge_cutoff):
    series = _batch_series()
    params = dict(_params(method), method=method, edge_cutoff=edge_cutoff)
    with np.errstate(all="ignore"):
        batch = detrend_batch(series, **params)
        single = [detrend_series(t, f, mask=m, **params)
                  for t, f, m in series]
    assert len(batch) == len(series)
    for i, (b, s) in enumerate(zip(batch, single)):
        assert digest(b.flatten_lc, b.trend_lc) == \
            digest(s.flatten_lc, s.trend_lc), (method, i)
        assert np.array_equal(b.nsplines, s.nsplines)
