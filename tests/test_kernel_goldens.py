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

savgol alone is compared with a tolerance, not bitwise: its coefficients
come from ``np.linalg.pinv`` and its edge fits from ``np.polyfit``, whose
last bits follow the CPU kernel OpenBLAS picks at run time (numpy's
OpenBLAS is built ``DYNAMIC_ARCH``).  Across the core types below savgol
moves by at most ~7e-14 relative while every other method stays bitwise.
Its expected ``flat``/``trend`` arrays are stored in
``data/savgol_expected.json``, made under ``OPENBLAS_CORETYPE=Prescott``;
their digests are the original savgol pins, which a test checks.

Regenerate (only for an intended change of kernel output) with
``OPENBLAS_CORETYPE=Prescott python -m tests.test_kernel_goldens``;
``python -m tests.test_kernel_goldens --check`` prints the goldens the
live kernels miss and exits 1 if any.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

from wotan_spark import constants
from wotan_spark.kernels.detrend import detrend_series
from wotan_spark.kernels.series import transit_mask

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
GOLDENS = os.path.join(DATA, "kernel_goldens.json")
SAVGOL_EXPECTED = os.path.join(DATA, "savgol_expected.json")
SAVGOL_RTOL = 1e-12
# OpenBLAS core types the check is rerun under, each with the CPU flag
# its kernels need, as /proc/cpuinfo names it (SSE3 is "pni"); forcing
# a core the CPU lacks would crash, not fail
CORE_TYPES = {"Haswell": "avx2", "SkylakeX": "avx512f",
              "Sandybridge": "avx", "Nehalem": "sse4_2", "Prescott": "pni"}

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


def live_outputs() -> dict[str, tuple[np.ndarray, np.ndarray]]:
    out = {}
    for method in METHODS:
        for name, (time, flux, mask, edge) in cases().items():
            with np.errstate(all="ignore"):
                res = detrend_series(time, flux, method=method, mask=mask,
                                     edge_cutoff=edge, **_params(method))
            out[f"{method}/{name}"] = (res.flatten_lc, res.trend_lc)
    return out


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def misses(method: str, live: dict) -> list[str]:
    """Cases of ``method`` whose live output misses its golden: the
    SHA-256 pin, or for savgol the stored arrays within SAVGOL_RTOL."""
    pins, expected = _load(GOLDENS), _load(SAVGOL_EXPECTED)
    out = []
    for name in cases():
        key = f"{method}/{name}"
        if method != "savgol":
            ok = digest(*live[key]) == pins[key]
        else:
            want = (expected[key]["flat"], expected[key]["trend"])
            ok = all(np.shape(got) == np.shape(exp) and np.allclose(
                got, exp, rtol=SAVGOL_RTOL, atol=0, equal_nan=True)
                for got, exp in zip(live[key], want))
        if not ok:
            out.append(key)
    return out


@pytest.fixture(scope="module")
def live():
    return live_outputs()


@pytest.mark.parametrize("method", METHODS)
def test_kernel_golden(method, live):
    assert misses(method, live) == []


def test_savgol_expected_arrays_are_the_pins():
    """The stored savgol arrays hash to the SHA-256 pins they replace."""
    pins, expected = _load(GOLDENS), _load(SAVGOL_EXPECTED)
    for name in cases():
        key = f"savgol/{name}"
        arrays = (np.array(expected[key]["flat"], dtype="<f8"),
                  np.array(expected[key]["trend"], dtype="<f8"))
        assert digest(*arrays) == pins[key], key


def _cpu_flags() -> set[str]:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("flags"):
                    return set(line.split(":", 1)[1].split())
    except OSError:
        pass
    return set()


@pytest.mark.parametrize("core", sorted(CORE_TYPES))
def test_goldens_hold_under_every_blas_core_type(core):
    """The other 16 methods' SHA pins and savgol's bound hold whichever
    kernel OpenBLAS runs: the check reruns with that core forced."""
    if CORE_TYPES[core] not in _cpu_flags():
        pytest.skip(f"this CPU lacks {CORE_TYPES[core]} for {core}")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_kernel_goldens", "--check"],
        cwd=root, env={**os.environ, "OPENBLAS_CORETYPE": core},
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout + proc.stderr


if __name__ == "__main__":
    outputs = live_outputs()
    if sys.argv[1:] == ["--check"]:
        bad = [k for m in METHODS for k in misses(m, outputs)]
        print("\n".join(bad) or "all goldens hold")
        sys.exit(1 if bad else 0)
    os.makedirs(DATA, exist_ok=True)
    with open(GOLDENS, "w") as fh:
        json.dump({k: digest(*v) for k, v in outputs.items()}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    with open(SAVGOL_EXPECTED, "w") as fh:
        json.dump({k: {"flat": np.asarray(f, dtype="<f8").tolist(),
                       "trend": np.asarray(t, dtype="<f8").tolist()}
                   for k, (f, t) in outputs.items()
                   if k.startswith("savgol/")}, fh, sort_keys=True)
        fh.write("\n")
