"""Per-series Lomb-Scargle periodogram: dominant-period extraction as a
rollup signal.

The GP ``periodic_auto`` kernel already pre-searches each series' dominant
period (reference wotan/gp.py:82-88); this operator exposes that same
vectorized kernel (``kernels.gp.lombscargle``) as a standalone packed pass
over the sequences table — one zero-shuffle packed pass
(``packed.packed_map``), one output row per requested peak.  At corpus
scale the dominant period is a per-series scalar exactly like the tier
rollup stats: cheap to store, joinable to any tier, and the natural feature
for periodicity-aware curation (flagging machine-generated repetition,
seasonality grouping).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (DoubleType, IntegerType, StringType,
                               StructField, StructType)

from wotan_spark.spark.packed import packed_map, series

PERIODOGRAM_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("rank", IntegerType(), False),
    StructField("period", DoubleType(), False),
    StructField("power", DoubleType(), False),
])


def dominant_periods(seq: DataFrame, top_k: int = 1,
                     n_freqs: int | None = None) -> DataFrame:
    """(doc_id, rank, period, power) — the ``top_k`` highest-power
    periodogram frequencies per sequence, period in token-index units.
    The grid ``geomspace(1/span, 1/cadence, n_freqs)`` is the reference's
    own pre-search grid of ANGULAR frequencies (the scipy lombscargle
    convention), so period = 2*pi/w — the reference's own back-conversion
    (wotan/gp.py:88, quirk Q15); resolvable periods span ~2*pi tokens up
    to ~2*pi*span.  Peaks are ranked by
    raw power with no separation constraint (adjacent grid bins of one
    broad peak can occupy several ranks — callers wanting distinct
    harmonics should post-filter).  Sequences shorter than 4 points emit
    no rows.  Values are median-centered first, as the reference does
    before its period search."""
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    from wotan_spark.constants import LS_FREQS
    from wotan_spark.kernels.gp import lombscargle
    nf = int(n_freqs) if n_freqs is not None else LS_FREQS

    empty = {"rank": np.empty(0, dtype=np.int32), "period": np.empty(0),
             "power": np.empty(0)}

    def periods(pdf: pd.DataFrame):
        # decoded like every other token operator, gap sentinels dropped:
        # raw SENTINEL (-2^31) spikes would dominate the power spectrum
        # with the gap's window function.  The surviving points keep
        # their original token indexes — Lomb-Scargle exists precisely
        # for irregular grids.
        for y_all in series(pdf):
            ok = ~np.isnan(y_all)
            y = y_all[ok]
            if len(y) < 4:
                yield empty
                continue
            t = np.arange(len(y_all), dtype=np.float64)[ok]
            y = y - np.median(y)
            freqs = np.geomspace(1.0 / t[-1], 1.0, nf)
            p = lombscargle(t, y, freqs)
            # stable tie-break toward the lower frequency index
            order = np.argsort(-p, kind="stable")[:top_k]
            yield {"rank": np.arange(1, len(order) + 1, dtype=np.int32),
                   "period": 2.0 * np.pi / freqs[order], "power": p[order]}

    return packed_map(seq.select("doc_id", "tokens"), periods,
                      PERIODOGRAM_SCHEMA)
