"""The ONE oracle comparator: canonicalize-and-compare a Spark result
against its DuckDB oracle result.

Both the local parity suite (``tests/test_oracle_parity.py``) and the
driver-protocol simulation (``scripts/drive_sim.py``) import this module,
so "driver parity" has a single definition — a tolerance or
canonicalization fix lands in both at once (two hand-rolled copies drifted
subtly before round 5b).

Semantics (stricter than the external driver's order-insensitive value
hash): row count, column-name sets, no column that is integer on one side
and float on the other, then per-column value equality after canonical
sorting — exact for ints/strings/bools, 1e-9 rel/abs for floats
(NaN == NaN), element-wise recursion for list/array cells.  Integer width
is not compared: the driver accepts Spark int32 against a BIGINT oracle.
"""
from __future__ import annotations

import math

import numpy as np
import pandas as pd

# the contract's pre-registered oracle views — ONE list shared by the
# parity suite and drive_sim (the table set is part of "driver parity"
# just like the comparator: a new contract table added to one copy but
# not the other fails only in the copy that lacks it)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def register_views(con, sf_dir: str) -> None:
    """Create the contract's DuckDB table views over a parquet dir."""
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")


def values_equal(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    """Scalar/list cell equality: float tolerance, NaN==NaN, element-wise
    for sequences."""
    if isinstance(a, (list, tuple, np.ndarray)) or \
            isinstance(b, (list, tuple, np.ndarray)):
        if a is None or b is None:
            return a is None and b is None
        a = np.asarray(a).tolist()
        b = np.asarray(b).tolist()
        return len(a) == len(b) and all(
            values_equal(x, y, rel, abs_) for x, y in zip(a, b))
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return abs(fa - fb) <= max(abs_, rel * max(abs(fa), abs(fb)))
    return a == b


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name order + a deterministic row order that is identical for
    two value-equal frames regardless of engine-native ordering.  List
    cells sort by their stringified form (compare() re-checks values
    element-wise, so the string key only needs determinism, not
    precision)."""
    df = df[sorted(df.columns)].copy()
    key = df.apply(
        lambda r: tuple(
            str(np.asarray(v).tolist())
            if isinstance(v, (list, tuple, np.ndarray)) else str(v)
            for v in r),
        axis=1) if len(df) else pd.Series([], dtype=object)
    return df.loc[key.sort_values(kind="mergesort").index].reset_index(
        drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame,
            rel: float = 1e-9, abs_: float = 1e-9) -> None:
    """Raise AssertionError with context on the first divergence."""
    assert len(got) == len(want), \
        f"{name}: row count {len(got)} != oracle {len(want)}"
    assert sorted(got.columns) == sorted(want.columns), \
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    got, want = canon(got), canon(want)
    for c in got.columns:
        # int 1 == float 1.0 below, but the driver hashes them apart
        kinds = {got[c].dtype.kind, want[c].dtype.kind}
        assert not ("f" in kinds and kinds & {"i", "u"}), \
            f"{name}.{c}: dtype {got[c].dtype} != oracle {want[c].dtype}"
        a, b = got[c].to_numpy(), want[c].to_numpy()
        # vectorized fast path for purely-numeric columns
        if np.issubdtype(got[c].dtype, np.floating) or \
                np.issubdtype(want[c].dtype, np.floating):
            try:
                fa = a.astype(np.float64)
                fb = b.astype(np.float64)
            except (TypeError, ValueError):
                fa = fb = None
            if fa is not None:
                ok = np.isclose(fa, fb, rtol=rel, atol=abs_) | \
                    (np.isnan(fa) & np.isnan(fb))
                if not ok.all():
                    bad = np.where(~ok)[0][:5]
                    raise AssertionError(
                        f"{name}.{c}: {int((~ok).sum())} mismatches, e.g. "
                        f"rows {bad.tolist()}: {fa[bad].tolist()} vs "
                        f"{fb[bad].tolist()}")
                continue
        if np.issubdtype(got[c].dtype, np.integer) and \
                np.issubdtype(want[c].dtype, np.integer):
            if not (a == b).all():
                bad = np.where(a != b)[0][:5]
                raise AssertionError(
                    f"{name}.{c}: mismatches at rows {bad.tolist()}: "
                    f"{a[bad].tolist()} vs {b[bad].tolist()}")
            continue
        # object / list / mixed columns: per-cell recursion
        for r in range(len(a)):
            if not values_equal(a[r], b[r], rel, abs_):
                raise AssertionError(
                    f"{name}.{c}: row {r}: {a[r]!r} vs {b[r]!r}")
