"""Series-level helpers: validity cleaning, gap segmentation, masks.

Semantics follow the reference helpers (``wotan/helpers.py``,
``wotan/gaps.py``) re-expressed as vectorized NumPy.
"""

from __future__ import annotations

import numpy as np


def clean_pair_fast(t: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Drop entries where either value is NaN or +inf (reference
    ``cleaned_array``, wotan/helpers.py:11-54, on float64 arrays — note it
    keeps -inf, since its check is only ``value < inf``)."""
    ok = ~np.isnan(t) & ~np.isnan(y) & (t < np.inf) & (y < np.inf)
    return t[ok], y[ok]


def segment_boundaries(time: np.ndarray, break_tolerance: float) -> np.ndarray:
    """Segment boundary indexes: splits wherever consecutive time deltas
    exceed ``break_tolerance`` (reference ``get_gaps_indexes``,
    wotan/gaps.py:5-13, including its ``len+1`` end sentinel Q11 — harmless
    because slicing clamps)."""
    cuts = np.where(np.diff(time) > break_tolerance)[0] + 1
    return np.concatenate(([0], cuts, [len(time) + 1]))


def segment_ids(time: np.ndarray, break_tolerance: float) -> np.ndarray:
    """Per-point segment id (0-based): cumulative count of gap breaks."""
    if len(time) == 0:
        return np.zeros(0, dtype=np.int64)
    breaks = np.diff(time) > break_tolerance
    return np.concatenate(([0], np.cumsum(breaks))).astype(np.int64)


def transit_mask(time: np.ndarray, period: float, duration: float,
                 T0: float) -> np.ndarray:
    """Periodic in-transit mask (reference wotan/helpers.py:5-8)."""
    half_period = 0.5 * period
    with np.errstate(invalid="ignore"):
        return np.abs((time - T0 + half_period) % period - half_period) < 0.5 * duration
