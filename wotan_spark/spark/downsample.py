"""Visualization downsampling over the packed sequence table.

Both operators follow the engine's core execution shape (same as
``spark/rollup.py``): downsampling is a within-series property, so one
packed pass (``packed.packed_map``) over the ``(doc_id, tokens, ...)`` rows
emits the reduced points with ZERO shuffle — at 10^12 sequences the plan is
a single scan, embarrassingly parallel across series.  Kernels (and the
paper citations) live in ``wotan_spark/kernels/downsample.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from wotan_spark.kernels.downsample import lttb_indices, m4_stats
from wotan_spark.spark.packed import packed_map, series

M4_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("bucket", LongType(), False),
    StructField("n", LongType(), False),
    StructField("t_first", LongType(), False),
    StructField("y_first", DoubleType(), False),
    StructField("t_last", LongType(), False),
    StructField("y_last", DoubleType(), False),
    StructField("t_min", LongType(), False),
    StructField("y_min", DoubleType(), False),
    StructField("t_max", LongType(), False),
    StructField("y_max", DoubleType(), False),
])

LTTB_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("rank", LongType(), False),
    StructField("t", LongType(), False),
    StructField("y", DoubleType(), False),
])


def downsample_m4(sequences: DataFrame, factor: int = 100) -> DataFrame:
    """M4 pixel-bucket downsample: per (series, ``t div factor``) bucket
    the first/last/min/max points — the 4-tuple that renders the exact
    same line as the raw data at that horizontal resolution.  All-gap
    buckets emit no row.  Packed, shuffle-free."""
    if factor < 1:
        raise ValueError("factor must be >= 1")

    cols = M4_SCHEMA.fieldNames()[1:]

    def m4(pdf: pd.DataFrame):
        for y in series(pdf):
            yield dict(zip(cols, m4_stats(y, factor)))

    return packed_map(sequences, m4, M4_SCHEMA)


def downsample_lttb(sequences: DataFrame, n_out: int = 1000) -> DataFrame:
    """LTTB downsample to a fixed budget of ``n_out`` points per series:
    (doc_id, rank, t, y) with rank = selection order = ascending t.
    Series with <= n_out valid points pass through whole.  Packed,
    shuffle-free."""
    if n_out < 3:
        raise ValueError("n_out must be >= 3 (first + last + interior)")

    def lttb(pdf: pd.DataFrame):
        for y in series(pdf):
            idx = lttb_indices(y, n_out)
            yield {"rank": np.arange(len(idx), dtype=np.int64), "t": idx,
                   "y": y[idx]}

    return packed_map(sequences, lttb, LTTB_SCHEMA)
