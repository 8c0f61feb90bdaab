"""Gap-fill / interpolation over long-form (key, t, y) frames.

``resample_ffill`` is a generic grid-resample + fill over any (key, t, y)
DataFrame expressed entirely in Catalyst operators (``sequence``/``explode``
grid, range join by bucket, ``last(ignoreNulls)`` / ``first(ignoreNulls)``
window fill, linear interpolation between bracketing samples).
Whole-stage-codegen'd, no Python, and directly mirrored by the DuckDB oracle
SQL.

The reference library has no explicit gap-fill; its closest semantics are
the spline/GP "interpolate over clipped values" behavior
(wotan/pspline.py:48-54) and NaN transplantation.  The rule set for this
engine adds gap-fill as a first-class rollup stage.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def resample_ffill(df: DataFrame, key: str, t: str, y: str, step: int,
                   interpolate: bool = False,
                   max_buckets: int = 8_000_000) -> DataFrame:
    """Resample (key, t, y) onto a dense step-grid per key and fill holes.

    Bucket value = avg(y) within the bucket; holes forward-filled (and
    optionally linearly interpolated between bracketing buckets).
    Returns (key, bucket_t, y_raw, y_filled).

    Bucketing is FLOOR division, not a truncating cast: truncation maps
    t=-5 and t=+5 into the same double-width bucket 0, mis-binning every
    negative timestamp and mislabeling its grid time.  (Note Spark's
    ``div`` ALSO truncates toward zero — fine for the join operators,
    which only need a monotone binning, but wrong here where the bucket
    label IS the output time axis.)  For integral time columns the floor
    is computed in exact integer arithmetic (``pmod`` + ``div``), so
    64-bit timestamps past 2^53 never round through a double.

    ``max_buckets`` bounds the dense grid per key: the grid is built as
    one ``sequence()`` array per key before exploding, so a key whose
    sparse samples span 10^9 steps would allocate a billion-element array
    in a single task (and ``sequence`` hard-errors past ~2^31).  A key
    over the bound fails loudly — pick a coarser ``step`` (or split the
    key) rather than letting one straggler task OOM the stage.
    """
    integral = df.schema[t].dataType.typeName() in {"integer", "long",
                                                    "short", "byte"}
    if integral and isinstance(step, int):
        b = F.expr(f"(`{t}` - pmod(`{t}`, {int(step)})) div {int(step)}")
    else:
        b = F.floor(F.col(t) / F.lit(step)).cast("long")
    binned = (df.groupBy(F.col(key).alias("k"), b.alias("b"))
                .agg(F.avg(y).alias("y_raw")))
    span = binned.groupBy("k").agg(F.min("b").alias("b_lo"),
                                   F.max("b").alias("b_hi"))
    n_buckets = F.col("b_hi") - F.col("b_lo") + 1
    # the guard lives INSIDE the consumed b_lo column — a standalone
    # assert_true column would be pruned away by Catalyst and never fire
    b_lo_guarded = F.when(
        n_buckets <= F.lit(int(max_buckets)), F.col("b_lo")).otherwise(
        F.raise_error(F.concat(
            F.lit("resample_ffill: key "), F.col("k").cast("string"),
            F.lit(" spans "), n_buckets.cast("string"),
            F.lit(f" buckets at step={step} (max_buckets={int(max_buckets)})"
                  " — use a coarser step"))))
    span = span.select("k", b_lo_guarded.alias("b_lo"), "b_hi")
    grid = span.select("k", F.explode(F.sequence("b_lo", "b_hi")).alias("b"))
    full = grid.join(binned, ["k", "b"], "left")

    w_prev = (Window.partitionBy("k").orderBy("b")
              .rowsBetween(Window.unboundedPreceding, 0))
    filled = F.last("y_raw", ignorenulls=True).over(w_prev)
    if not interpolate:
        out = full.select(
            F.col("k").alias(key), (F.col("b") * step).alias("bucket_t"),
            "y_raw", filled.alias("y_filled"))
        return out

    w_next = (Window.partitionBy("k").orderBy("b")
              .rowsBetween(0, Window.unboundedFollowing))
    prev_b = F.last(F.when(F.col("y_raw").isNotNull(), F.col("b")),
                    ignorenulls=True).over(w_prev)
    next_b = F.first(F.when(F.col("y_raw").isNotNull(), F.col("b")),
                     ignorenulls=True).over(w_next)
    prev_y = filled
    next_y = F.first("y_raw", ignorenulls=True).over(w_next)
    frac = (F.col("b") - prev_b) / (next_b - prev_b)
    interp = F.when(F.col("y_raw").isNotNull(), F.col("y_raw")) \
              .when(prev_b.isNull() | next_b.isNull(), F.lit(None)) \
              .otherwise(prev_y + frac * (next_y - prev_y))
    return full.select(
        F.col("k").alias(key), (F.col("b") * step).alias("bucket_t"),
        "y_raw", interp.alias("y_filled"))
