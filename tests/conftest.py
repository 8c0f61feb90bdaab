"""Shared fixtures: reference-oracle import shim, synthetic series, Spark session."""

from __future__ import annotations

import sys
import types

import numpy as np
import pytest

REFERENCE_PATH = "/root/reference"
_REFERENCE_SKIP = "reference oracle module"


def _install_numba_stub() -> None:
    """The reference jit-compiles with numba, which is absent here.  A
    pass-through ``jit`` lets its pure-NumPy modules import so tests can use
    them as a behavioral oracle (the engine itself never imports them)."""
    if "numba" in sys.modules:
        return
    numba = types.ModuleType("numba")

    def jit(*args, **kwargs):
        if args and callable(args[0]):
            return args[0]

        def wrap(fn):
            return fn
        return wrap

    numba.jit = jit
    sys.modules["numba"] = numba


def reference_module(name: str):
    """Import ``wotan.<name>`` from the read-only reference for use as a test
    oracle.  Skips the test when unavailable (e.g. scipy-importing modules).

    The real ``wotan/__init__.py`` imports scipy, so a stub package with the
    reference's ``__path__`` is registered instead; submodules then import
    normally without executing the package init."""
    _install_numba_stub()
    if "wotan" not in sys.modules:
        pkg = types.ModuleType("wotan")
        pkg.__path__ = [f"{REFERENCE_PATH}/wotan"]
        sys.modules["wotan"] = pkg
    try:
        __import__(f"wotan.{name}")
    except ImportError as exc:  # pragma: no cover
        pytest.skip(f"{_REFERENCE_SKIP} wotan.{name} unavailable: {exc}")
    return sys.modules[f"wotan.{name}"]


def pytest_terminal_summary(terminalreporter) -> None:
    """Make a missing reference loud: the ref-exact parity tests skip
    without it, which would otherwise leave the run looking fully green."""
    n = sum(_REFERENCE_SKIP in str(rep.longrepr)
            for rep in terminalreporter.stats.get("skipped", []))
    if n:
        terminalreporter.write_line(
            f"ref-exact parity NOT RUN: {n} tests skipped "
            f"({REFERENCE_PATH} missing)")


def synthetic_series(points: int = 1000, seed: int = 0,
                     nan_block: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """The reference test-suite's seeded light curve (wotan/tests.py:26-38):
    sin trend + gaussian noise + periodic transit dips and flares."""
    rng = np.random.RandomState(seed)
    time = np.linspace(0, 30, points)
    flux = 1 + np.sin(time) / points + rng.normal(0, 1e-4, points)
    for i in range(points):
        if i % 75 == 0:
            flux[i:i + 5] -= 0.0004  # transit dip
            flux[i + 50:i + 52] += 0.0002  # flare
    if nan_block:
        flux[300:400] = np.nan
    return time, flux


@pytest.fixture(scope="session")
def spark():
    from wotan_spark.spark.session import get_spark
    s = get_spark(app_name="wotan-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
