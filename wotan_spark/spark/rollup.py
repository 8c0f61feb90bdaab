"""Rollup / downsample / retention tiers with continuous-aggregate cascade.

Tier-10 aggregates are computed inside the same packed, shuffle-free pass
shape as the detrend itself: bucket membership (``t div 10``) is a
within-series property, so one packed pass (``packed.packed_map``) emits
bucket rows with no exchange (``detrend_op.detrend_rollup_fused`` does the
same inside the detrend pass itself).  Tier-100 is then *cascaded from
tier-10* (never from raw) as a plain ``groupBy`` over additive components —
the continuous-aggregate pattern: count/sum/min/max re-aggregate exactly;
``*_mean`` is re-derived as sum/count; the non-additive median exists only
at tier-10.

Aggregation semantics: NaN samples (gap sentinels / NaN trend regions) are
excluded; ``n`` counts non-NaN raw samples per bucket; an all-NaN bucket
yields NULL aggregates but keeps its row (n may be 0 only for flat/trend
whose estimator NaN-ed the edge).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from wotan_spark.spark.packed import packed_map, series
from wotan_spark.spark.synth import SENTINEL

TIER_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("bucket", LongType(), False),
    StructField("n", LongType(), False),
    StructField("y_sum", DoubleType(), True),
    StructField("y_mean", DoubleType(), True),
    StructField("y_median", DoubleType(), True),
    StructField("y_min", DoubleType(), True),
    StructField("y_max", DoubleType(), True),
    StructField("trend_n", LongType(), False),
    StructField("trend_sum", DoubleType(), True),
    StructField("trend_mean", DoubleType(), True),
    StructField("flat_n", LongType(), False),
    StructField("flat_sum", DoubleType(), True),
    StructField("flat_mean", DoubleType(), True),
])


def _bucket_stats(v: np.ndarray, factor: int, with_median: bool = True):
    """Per-bucket nan-aware stats of v over the dense time axis
    t = 0..n-1 (token index), fully vectorized: pad to a bucket multiple,
    reshape to (n_buckets, factor), reduce along rows.  No Python loop."""
    n = len(v)
    nb = (n + factor - 1) // factor
    pad = nb * factor - n
    vp = np.concatenate([v, np.full(pad, np.nan)]) if pad else v
    M = vp.reshape(nb, factor)
    ok = ~np.isnan(M)
    cnt = ok.sum(axis=1).astype(np.int64)
    s = np.where(ok, M, 0.0).sum(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = np.where(cnt > 0, s / cnt, np.nan)
    s = np.where(cnt > 0, s, np.nan)
    mins = np.where(ok, M, np.inf).min(axis=1)
    mins = np.where(cnt > 0, mins, np.nan)
    maxs = np.where(ok, M, -np.inf).max(axis=1)
    maxs = np.where(cnt > 0, maxs, np.nan)
    if with_median:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            meds = np.nanmedian(M, axis=1)
    else:
        meds = np.full(nb, np.nan)
    ids = np.arange(nb, dtype=np.int64)
    return ids, cnt, s, mean, meds, mins, maxs


def _tier_arrays(y: np.ndarray, flat: np.ndarray, trend: np.ndarray,
                 factor: int, b0: int = 0) -> dict:
    """The ``TIER_SCHEMA`` columns but ``doc_id`` for one series (bucket
    ids offset by ``b0`` for chunked cores) — the ONE definition of the
    tier-row layout, shared by ``rollup_tier10`` and the fused pass
    (``detrend_op.detrend_rollup_fused``)."""
    ids, cnt, ysum, ymean, ymed, ymin, ymax = _bucket_stats(y, factor)
    _, tcnt, tsum, tmean, _, _, _ = _bucket_stats(
        trend, factor, with_median=False)
    _, fcnt, fsum, fmean, _, _, _ = _bucket_stats(
        flat, factor, with_median=False)
    return {"bucket": ids + b0 if b0 else ids, "n": cnt, "y_sum": ysum,
            "y_mean": ymean, "y_median": ymed, "y_min": ymin, "y_max": ymax,
            "trend_n": tcnt, "trend_sum": tsum, "trend_mean": tmean,
            "flat_n": fcnt, "flat_sum": fsum, "flat_mean": fmean}


def rollup_tier10(detrended: DataFrame, factor: int = 10) -> DataFrame:
    """Packed detrended output -> tier-10 bucket rows.  No shuffle: bucket
    aggregation is within-series."""

    def roll(pdf: pd.DataFrame):
        for y, flat, trend in zip(series(pdf), pdf["flat"], pdf["trend"]):
            yield _tier_arrays(y, np.asarray(flat, dtype=np.float64),
                               np.asarray(trend, dtype=np.float64), factor)

    return packed_map(detrended, roll, TIER_SCHEMA)


def cascade_tier(tier: DataFrame, step: int = 10) -> DataFrame:
    """Continuous aggregate: next retention tier from the previous tier
    (exact for the additive components; median is tier-10-only so the
    cascaded table reports NULL there)."""
    g = tier.groupBy(
        "doc_id", (F.col("bucket") / step).cast("long").alias("bucket"))
    agg = g.agg(
        F.sum("n").alias("n"),
        F.sum("y_sum").alias("y_sum"),
        F.min("y_min").alias("y_min"),
        F.max("y_max").alias("y_max"),
        F.sum("trend_n").alias("trend_n"),
        F.sum("trend_sum").alias("trend_sum"),
        F.sum("flat_n").alias("flat_n"),
        F.sum("flat_sum").alias("flat_sum"),
    )
    return agg.select(
        "doc_id", "bucket", "n", "y_sum",
        (F.col("y_sum") / F.col("n")).alias("y_mean"),
        F.lit(None).cast("double").alias("y_median"),
        "y_min", "y_max", "trend_n", "trend_sum",
        (F.col("trend_sum") / F.col("trend_n")).alias("trend_mean"),
        "flat_n", "flat_sum",
        (F.col("flat_sum") / F.col("flat_n")).alias("flat_mean"),
    )


def cascade_median_exact(tier_vals: DataFrame, key: str = "doc_id",
                         step: int = 10, vals: str = "vals") -> DataFrame:
    """Exact non-additive statistic at a coarser tier, recomputed from the
    finer tier's retained value arrays instead of from raw data.

    ``cascade_tier`` correctly reports NULL for the cascaded median (it
    does not re-aggregate); this is the escape hatch: the finer tier keeps
    ``collect_list`` value arrays per bucket, the coarser tier flattens
    ``step`` of them and takes the exact interpolated median — one shuffle
    on (key, coarse bucket), never a second scan of raw.  The median itself
    is pure Catalyst (array_sort + middle elements, numpy's even-count
    interpolation), so it stays in whole-stage codegen.
    """
    g = tier_vals.groupBy(
        key, (F.col("bucket") / step).cast("long").alias("bucket"))
    agg = g.agg(F.array_sort(F.flatten(F.collect_list(vals))).alias("sv"))
    n = F.size("sv")
    mid = F.element_at("sv", ((n + 1) / 2).cast("int"))
    lo = F.element_at("sv", (n / 2).cast("int"))
    hi = F.element_at("sv", (n / 2 + 1).cast("int"))
    med = (F.when(n == 0, F.lit(None).cast("double"))
           .when(n % 2 == 1, mid)
           .otherwise((lo + hi) / 2.0))
    return agg.select(key, "bucket", n.cast("long").alias("n"),
                      med.alias("y_median"))


def explode_points(sequences: DataFrame, drop_null: bool = False) -> DataFrame:
    """Long-form view for SQL-native window operators:
    (doc_id, t, y, source).  Sentinel tokens decode to NULL."""
    pts = sequences.select(
        "doc_id", "source",
        F.posexplode("tokens").alias("t", "token"))
    y = F.when(F.col("token") == int(SENTINEL),
               F.lit(None).cast("double")) \
         .otherwise(1.0 + F.col("token").cast("double") / 1e6)
    pts = pts.select("doc_id", "source", F.col("t").cast("long").alias("t"),
                     y.alias("y"))
    if drop_null:
        pts = pts.filter(F.col("y").isNotNull())
    return pts
