"""Statistics and output checks of the benchmark.

The checks compare engine outputs against facts computed from the seeded
corpus in plain Python, so a wrong tier row, a lost block or a missing
lineage row fails the op that produced it.  The benchmark reads committed
tables from their parquet files with pyarrow, not through Spark; every
comparison here is a pure function and is covered by
``test_perfbench.py``.
"""

from __future__ import annotations

import math
import statistics

import numpy as np
import pandas as pd

from perfbench.corpus import SENTINEL

# float totals are re-summed in another order by the tier cascade
REL_TOL = 1e-9


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def digest(df: pd.DataFrame, decimals: int = 9) -> str:
    """Order-independent digest of a table: the wrapping uint64 sum of one
    hash per row, over columns in name order, with floats rounded to
    ``decimals`` (re-summed float aggregates may differ in the last bit)."""
    cols = sorted(df.columns)
    frame = df[cols].copy()
    for c in cols:
        if frame[c].dtype.kind == "f":
            frame[c] = frame[c].round(decimals)
    hashes = pd.util.hash_pandas_object(frame, index=False).to_numpy()
    return f"{int(hashes.sum(dtype=np.uint64)):016x}"


def valid_in_range(docs: dict[str, np.ndarray], lo: int, hi: int) -> int:
    """Non-sentinel tokens with index in [lo, hi) over all docs."""
    return int(sum(int((d[lo:hi] != SENTINEL).sum()) for d in docs.values()))


def expected_probe(docs: dict[str, np.ndarray], factor: int, lo: int,
                   hi: int) -> int:
    """Sum of ``n`` over tier rows with ``lo <= bucket <= hi`` for a tier
    of ``factor`` tokens per bucket."""
    return valid_in_range(docs, lo * factor, (hi + 1) * factor)


def check_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def check_close(what: str, got: float | None, want: float | None) -> list[str]:
    if got is None or want is None:
        return check_equal(what, got, want)
    if math.isclose(got, want, rel_tol=REL_TOL, abs_tol=1e-9):
        return []
    return [f"{what}: got {got!r}, want {want!r}"]


def check_tiers(valid_points: int, t10: dict, t100: dict) -> list[str]:
    """Tier-10 ``n`` sums to the input's valid token count, and the
    cascaded tier-100 totals equal tier-10's.  ``t10``/``t100`` hold the
    column totals ``n``, ``y_sum``, ``flat_n`` and ``trend_n``."""
    errs = check_equal("tier10 sum(n) vs valid tokens", t10["n"], valid_points)
    for col in ("n", "flat_n", "trend_n"):
        errs += check_equal(f"tier100 sum({col}) vs tier10", t100[col],
                            t10[col])
    errs += check_close("tier100 sum(y_sum) vs tier10", t100["y_sum"],
                        t10["y_sum"])
    return errs


def _as_float(values) -> np.ndarray:
    return np.array([np.nan if v is None else v for v in values],
                    dtype=np.float64)


def check_blocks(flat: dict[str, list], blocks: dict[str, list]) -> list[str]:
    """Decoded blocks, concatenated in block order, are bit-exact to the
    detrended ``flat`` of each doc (a NULL and a NaN both mean missing)."""
    errs = []
    for doc in sorted(set(flat) | set(blocks)):
        if doc not in flat or doc not in blocks:
            errs.append(f"blocks: doc {doc} only on one side")
            continue
        a, b = _as_float(flat[doc]), _as_float(blocks[doc])
        if a.shape != b.shape:
            errs.append(f"blocks: doc {doc} has {b.size} values, "
                        f"flat has {a.size}")
            continue
        na, nb = np.isnan(a), np.isnan(b)
        if not np.array_equal(na, nb) or not np.array_equal(
                a[~na].view(np.uint64), b[~nb].view(np.uint64)):
            errs.append(f"blocks: doc {doc} differs from flat")
    return errs


def check_lineage(rows_per_stage: dict[str, int],
                  files_per_stage: dict[str, int]) -> list[str]:
    """One lineage row per data file per stage of a run."""
    errs = []
    for stage, files in sorted(files_per_stage.items()):
        errs += check_equal(f"lineage rows of stage {stage}",
                            rows_per_stage.get(stage, 0), files)
    return errs
