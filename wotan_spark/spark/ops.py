"""Column-level and packed utility operators: slide_clip, transit_mask, t14.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from wotan_spark.kernels.clipper import slide_clip as slide_clip_kernel
from wotan_spark.spark.packed import packed_map, series
from wotan_spark.spark.synth import encode_samples


def transit_mask_col(t: Column, period: float, duration: float,
                     T0: float) -> Column:
    """Periodic in-transit mask as a pure Catalyst expression
    (reference wotan/helpers.py:5-8): fully codegen'd, no UDF."""
    half = period / 2.0
    return F.abs(F.pmod(t - F.lit(T0) + F.lit(half), F.lit(period))
                 - F.lit(half)) < duration / 2.0


def t14_col(R_s: Column, M_s: Column, P: Column,
            small_planet: bool = False) -> Column:
    """Transit duration (days) as a Catalyst expression
    (reference wotan/t14.py:27-39)."""
    from wotan_spark import constants as c
    planet = 0.0 if small_planet else 2 * c.R_JUP
    return ((c.R_SUN * R_s + F.lit(planet))
            * F.pow((4 * P * c.SECONDS_PER_DAY)
                    / (float(np.pi) * c.G * c.M_SUN * M_s), 1.0 / 3.0)
            ) / c.SECONDS_PER_DAY


def slide_clip_sequences(df: DataFrame, window_length: float, low: float = 3,
                         high: float = 3, method: str | None = None,
                         center: str | None = None) -> DataFrame:
    """Packed sliding outlier clipper: one sequential kernel pass per series
    (the operator is order-dependent within a series — quirk Q9b — so
    parallelism is across rows), zero shuffle."""

    def clip(pdf: pd.DataFrame):
        for y in series(pdf):
            t = np.arange(len(y), dtype=np.float64)
            clipped = slide_clip_kernel(t, y, window_length, low, high,
                                        method, center)
            yield {"tokens": [encode_samples(clipped)]}

    return packed_map(df, clip, df.schema,
                      carry=tuple(c for c in df.columns if c != "tokens"))
