"""Mergeable fixed-bin histogram sketches as continuous aggregates.

The tier rollups carry count/sum/mean/min/max (+ exact median at tier-10
only) — distribution questions ("p90 per bucket at tier-100") previously
needed a raw re-scan.  A fixed-bin histogram is the simplest *mergeable*
quantile sketch: bin counts are additive, so tier-100 histograms cascade
from tier-10 by element-wise vector addition exactly (no approximation is
introduced by the merge — the only approximation is the bin width itself,
and it is IDENTICAL at every tier).  That is the property t-digest/KLL
trade away determinism for; with a known value range (decoded token
samples live in a narrow band around 1.0) fixed bins are the right
engineering point: deterministic, SQL-expressible (exact DuckDB oracle),
and two longs + an array per row.

Execution shape matches the engine core: tier-10 histograms are computed
inside one packed pass (``packed.packed_map``; bucketing is within-series,
ZERO shuffle); the cascade is one partial-aggregated ``groupBy``; quantiles
are pure Catalyst over an explode + running-sum window.

Out-of-range samples are counted in ``n_below`` / ``n_above`` rather than
clamped into the edge bins — clamping would silently bias edge quantiles.
``histogram_quantile`` ranks over IN-RANGE samples only (callers pick
[lo, hi) to cover the data; the two counters make violations visible).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from wotan_spark.spark.packed import packed_map, series

HIST_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("bucket", LongType(), False),
    StructField("n", LongType(), False),
    StructField("n_below", LongType(), False),
    StructField("n_above", LongType(), False),
    StructField("bins", ArrayType(LongType(), False), False),
])


def _bucket_histograms(y: np.ndarray, factor: int, n_bins: int,
                       lo: float, hi: float):
    """(bucket_ids, n, n_below, n_above, bins[n_buckets, n_bins]) over the
    dense axis, fully vectorized: one flat ``np.bincount`` over the
    combined (bucket, bin) index — no per-bucket Python loop."""
    n = len(y)
    nb = (n + factor - 1) // factor
    width = (hi - lo) / n_bins
    buck = np.arange(n) // factor
    ok = ~np.isnan(y)
    yv = y[ok]
    bv = buck[ok]
    # classify on the FLOAT scale before any int cast: a degenerate range
    # (tiny width) can push (y - lo)/width past 2^63, where an int64 cast
    # wraps to INT64_MIN and would misfile above-range samples as n_below
    with np.errstate(over="ignore"):   # huge/width -> inf, lands in above
        scaled = (yv - lo) / width
    below = scaled < 0.0
    above = scaled >= n_bins
    inr = ~(below | above)
    raw = np.floor(scaled[inr]).astype(np.int64)
    flat = np.bincount(bv[inr] * n_bins + raw,
                       minlength=nb * n_bins).reshape(nb, n_bins)
    n_below = np.bincount(bv[below], minlength=nb)
    n_above = np.bincount(bv[above], minlength=nb)
    cnt = np.bincount(bv, minlength=nb)
    ids = np.arange(nb, dtype=np.int64)
    return ids, cnt.astype(np.int64), n_below.astype(np.int64), \
        n_above.astype(np.int64), flat.astype(np.int64)


def tier_histogram(sequences: DataFrame, factor: int = 10,
                   n_bins: int = 32, lo: float = 0.99,
                   hi: float = 1.01) -> DataFrame:
    """Per-(series, ``t div factor``) fixed-bin histogram rows from the
    packed sequence table.  One packed pass, no shuffle."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    if n_bins < 1 or not hi > lo:
        raise ValueError("need n_bins >= 1 and hi > lo")

    def histogram(pdf: pd.DataFrame):
        for y in series(pdf):
            ids, cnt, below, above, M = _bucket_histograms(
                y, factor, n_bins, lo, hi)
            yield {"bucket": ids, "n": cnt, "n_below": below,
                   "n_above": above, "bins": list(M)}

    return packed_map(sequences, histogram, HIST_SCHEMA)


def cascade_histogram(tier: DataFrame, step: int = 10) -> DataFrame:
    """Coarser-tier histograms from finer-tier ones by EXACT additive
    merge: counts sum, bin vectors add element-wise.  Never re-reads raw
    data — the continuous-aggregate property.  One partial-aggregated
    groupBy (``collect_list`` of the small bin vectors is bounded by
    ``step`` rows per output group)."""
    folded = F.aggregate(
        F.collect_list("bins"),
        F.array().cast("array<bigint>"),
        lambda acc, x: F.when(F.size(acc) == 0, x).otherwise(
            F.zip_with(acc, x, lambda a, b: a + b)))
    from wotan_spark.spark.distinct import bucket_col
    return (tier.groupBy("doc_id", bucket_col("bucket", step))
            .agg(F.sum("n").alias("n"),
                 F.sum("n_below").alias("n_below"),
                 F.sum("n_above").alias("n_above"),
                 folded.alias("bins")))


def histogram_quantile(hist: DataFrame, q: float, n_bins: int = 32,
                       lo: float = 0.99, hi: float = 1.01) -> DataFrame:
    """Histogram-based quantile per (doc_id, bucket): pure Catalyst —
    explode the bin vector, running-sum window, pick the first bin whose
    cumulative count reaches ``ceil(q * n_in)`` over IN-RANGE samples,
    linearly interpolate inside it:

        value = lo + width * (bin + (target - cum_before) / bin_count)

    Error is bounded by one bin width at every tier (the merge is exact).
    Empty (all-out-of-range) groups emit no row.
    """
    if not 0.0 < q <= 1.0:
        raise ValueError("q must be in (0, 1]")
    width = (hi - lo) / n_bins
    n_in = (F.col("n") - F.col("n_below") - F.col("n_above"))
    ex = (hist
          .filter(n_in > 0)
          .withColumn("target", F.ceil(F.lit(q) * n_in))
          .select("doc_id", "bucket", "target",
                  F.posexplode("bins").alias("bin", "cnt"))
          .filter(F.col("cnt") > 0))
    w = (Window.partitionBy("doc_id", "bucket").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = F.sum("cnt").over(w)
    val = (F.lit(float(lo))
           + F.lit(float(width))
           * (F.col("bin") + (F.col("target") - (F.col("cum") - F.col("cnt")))
              / F.col("cnt")))
    hit = (ex.withColumn("cum", cum)
           .filter(F.col("cum") >= F.col("target")))
    wpick = Window.partitionBy("doc_id", "bucket").orderBy("bin")
    return (hit.withColumn("rk", F.row_number().over(wpick))
            .filter(F.col("rk") == 1)
            .select("doc_id", "bucket", F.lit(float(q)).alias("q"),
                    val.alias("value")))
