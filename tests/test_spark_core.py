"""Spark operator tests: synthesis determinism, packed detrend parity,
chunked-path exactness, rollup cascade, gap-fill, clip, masks."""

from __future__ import annotations

import warnings

import numpy as np
import numpy.testing as npt
import pyspark.sql.functions as F

from wotan_spark.kernels.clipper import slide_clip as slide_clip_kernel
from wotan_spark.kernels.detrend import detrend_series
from wotan_spark.spark.detrend_op import detrend_sequences, split_chunks
from wotan_spark.spark.gapfill import fill_array, gapfill_sequences, resample_ffill
from wotan_spark.spark.ops import slide_clip_sequences, transit_mask_col
from wotan_spark.spark.rollup import cascade_tier, explode_points, rollup_tier10
from wotan_spark.spark.synth import (decode_tokens, make_tokens,
                                     synth_sequences)

N_DOCS = 40


def _seq(spark, **kw):
    return synth_sequences(spark, N_DOCS, median_len=300, max_len=2500, **kw)


def test_synth_deterministic_across_parallelism(spark):
    a = _seq(spark, partitions=2).orderBy("doc_id").collect()
    b = _seq(spark, partitions=7).orderBy("doc_id").collect()
    assert len(a) == N_DOCS
    for ra, rb in zip(a, b):
        assert ra.doc_id == rb.doc_id
        assert ra.tokens == rb.tokens  # per-row token-array equality invariant
        assert ra.n_tok == len(ra.tokens)
        assert np.array_equal(np.asarray(ra.tokens, dtype=np.int32),
                              make_tokens(int(ra.doc_id.split("_")[1]),
                                          median_len=300, max_len=2500))


def test_detrend_matches_kernel(spark):
    seq = _seq(spark)
    det = detrend_sequences(seq, method="biweight", window_length=17,
                            keep_tokens=True)
    for row in det.collect():
        toks = np.asarray(row.tokens, dtype=np.int32)
        y = decode_tokens(toks)
        t = np.arange(len(y), dtype=np.float64)
        res = detrend_series(t, y, window_length=17, method="biweight")
        npt.assert_allclose(np.asarray(row.flat, dtype=np.float64),
                            res.flatten_lc, rtol=1e-12, equal_nan=True)
        npt.assert_allclose(np.asarray(row.trend, dtype=np.float64),
                            res.trend_lc, rtol=1e-12, equal_nan=True)


def test_detrend_with_transit_mask_matches_kernel(spark):
    """mask_transit on the packed op == kernel detrend with the same
    periodic mask (reference masked-flatten scenario, wotan/tests.py
    masking blocks); the mask must actually change the fit."""
    from wotan_spark.kernels.series import transit_mask

    seq = _seq(spark)
    period, duration, t0 = 50.0, 6.0, 10.0
    det = detrend_sequences(seq, method="biweight", window_length=17,
                            mask_transit=(period, duration, t0),
                            keep_tokens=True)
    unmasked = {r.doc_id: r for r in
                detrend_sequences(seq, method="biweight", window_length=17)
                .collect()}
    changed = 0
    for row in det.collect():
        toks = np.asarray(row.tokens, dtype=np.int32)
        y = decode_tokens(toks)
        t = np.arange(len(y), dtype=np.float64)
        mask = transit_mask(t, period, duration, t0)
        res = detrend_series(t, y, window_length=17, method="biweight",
                             mask=mask)
        npt.assert_allclose(np.asarray(row.trend, dtype=np.float64),
                            res.trend_lc, rtol=1e-12, equal_nan=True)
        um = np.asarray(unmasked[row.doc_id].trend, dtype=np.float64)
        got = np.asarray(row.trend, dtype=np.float64)
        if not np.allclose(um, got, rtol=1e-12, equal_nan=True):
            changed += 1
    assert changed > 0, "mask had no effect on any series"


def test_detrend_points_mask_matches_packed(spark):
    """Long-form masked detrend == packed masked detrend on the same data."""
    import pyspark.sql.functions as F
    from wotan_spark.spark.detrend_op import detrend_points

    seq = _seq(spark).limit(4)
    mt = (50.0, 6.0, 10.0)
    packed = {r.doc_id: np.asarray(r.trend, dtype=np.float64) for r in
              detrend_sequences(seq, method="mean", window_length=17,
                                mask_transit=mt).collect()}
    pts = seq.select("doc_id", F.posexplode("tokens").alias("t", "tok")) \
        .select("doc_id", "t", (1.0 + F.col("tok") / 1e6).alias("y"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        long = detrend_points(pts, method="mean", window_length=17,
                              mask_transit=mt)
    assert not [w for w in caught if "eval type" in str(w.message)]
    long_pdf = long.orderBy("doc_id", "t").toPandas()
    for doc_id, grp in long_pdf.groupby("doc_id"):
        got = grp["trend"].to_numpy(dtype=np.float64)
        npt.assert_allclose(got, packed[doc_id], rtol=1e-12, equal_nan=True)


def test_detrend_with_mask_col_matches_kernel(spark):
    """Explicit array<boolean> mask column path == kernel."""
    import pyspark.sql.functions as F

    seq = _seq(spark).withColumn(
        "bad", F.transform("tokens", lambda x, i: (i % 37) == 0))
    det = detrend_sequences(seq, method="median", window_length=17,
                            mask_col="bad", keep_tokens=True)
    for row in det.limit(4).collect():
        toks = np.asarray(row.tokens, dtype=np.int32)
        y = decode_tokens(toks)
        t = np.arange(len(y), dtype=np.float64)
        mask = (np.arange(len(y)) % 37) == 0
        res = detrend_series(t, y, window_length=17, method="median",
                             mask=mask)
        npt.assert_allclose(np.asarray(row.flat, dtype=np.float64),
                            res.flatten_lc, rtol=1e-12, equal_nan=True)


def test_chunked_detrend_exact_and_token_invariant(spark):
    seq = _seq(spark)
    plain = {r.doc_id: r for r in
             detrend_sequences(seq, method="biweight",
                               window_length=17).collect()}
    # the chunk reassembly's applyInPandas must not warn that it cannot
    # infer its eval type from the body's type hints
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        chunked = detrend_sequences(seq, method="biweight",
                                    window_length=17, chunk_threshold=0,
                                    chunk_size=256)
    assert not [w for w in caught if "eval type" in str(w.message)]
    rows = chunked.collect()
    assert len(rows) == N_DOCS
    for row in rows:
        ref = plain[row.doc_id]
        npt.assert_allclose(np.asarray(row.flat, dtype=np.float64),
                            np.asarray(ref.flat, dtype=np.float64),
                            rtol=1e-12, equal_nan=True)
    # chunk/reassemble preserves the token arrays bit-exactly
    chunks = split_chunks(seq, 256, 40)
    rebuilt = (chunks.orderBy("doc_id", "chunk_id")
               .select("doc_id", "chunk_id", "lead", "core", "tokens")
               .collect())
    per_doc: dict[str, list] = {}
    for r in rebuilt:
        per_doc.setdefault(r.doc_id, []).append(
            r.tokens[r.lead:r.lead + r.core])
    orig = {r.doc_id: r.tokens for r in seq.collect()}
    for doc_id, parts in per_doc.items():
        flat = [tok for part in parts for tok in part]
        assert flat == orig[doc_id]


def test_rollup_tier10_and_cascade(spark):
    seq = _seq(spark)
    det = detrend_sequences(seq, method="mean", window_length=17,
                            keep_tokens=True)
    t10 = rollup_tier10(det).cache()
    t100 = cascade_tier(t10)
    # numpy oracle for one doc
    row = det.filter(F.col("doc_id") == "doc_00000001").collect()[0]
    y = decode_tokens(np.asarray(row.tokens, dtype=np.int32))
    got = (t10.filter(F.col("doc_id") == "doc_00000001")
           .orderBy("bucket").toPandas())
    for _, r in got.iterrows():
        seg = y[int(r.bucket) * 10:(int(r.bucket) + 1) * 10]
        seg = seg[~np.isnan(seg)]
        assert r.n == len(seg)
        if len(seg):
            npt.assert_allclose(r.y_mean, seg.mean(), rtol=1e-12)
            npt.assert_allclose(r.y_median, np.median(seg), rtol=1e-12)
            npt.assert_allclose(r.y_min, seg.min(), rtol=1e-12)
            npt.assert_allclose(r.y_max, seg.max(), rtol=1e-12)
    # cascade is exact vs direct 100-bucketing
    direct = (t10.groupBy("doc_id",
                          (F.col("bucket") / 10).cast("long").alias("bucket"))
              .agg(F.sum("n").alias("n"), F.sum("y_sum").alias("y_sum"),
                   F.min("y_min").alias("y_min"), F.max("y_max").alias("y_max")))
    joined = (t100.alias("a").join(direct.alias("b"), ["doc_id", "bucket"])
              .select(
                  (F.col("a.n") == F.col("b.n")).alias("n_ok"),
                  (F.abs(F.col("a.y_sum") - F.col("b.y_sum")) < 1e-9).alias("s_ok"),
                  (F.col("a.y_min") == F.col("b.y_min")).alias("mn_ok"),
                  (F.col("a.y_max") == F.col("b.y_max")).alias("mx_ok")))
    bad = joined.filter(~(F.col("n_ok") & F.col("s_ok") & F.col("mn_ok")
                          & F.col("mx_ok"))).count()
    assert bad == 0


def test_gapfill_modes(spark):
    y = np.array([np.nan, 1.0, np.nan, np.nan, 4.0, np.nan])
    npt.assert_allclose(fill_array(y, "ffill"),
                        [np.nan, 1, 1, 1, 4, 4], equal_nan=True)
    npt.assert_allclose(fill_array(y, "linear"),
                        [np.nan, 1, 2, 3, 4, np.nan], equal_nan=True)
    seq = _seq(spark)
    filled = gapfill_sequences(seq, mode="linear")
    orig = {r.doc_id: r.tokens for r in seq.collect()}
    for r in filled.collect():
        y_f = decode_tokens(np.asarray(r.tokens, dtype=np.int32))
        y_o = decode_tokens(np.asarray(orig[r.doc_id], dtype=np.int32))
        ref = fill_array(y_o, "linear")
        # token quantization rounds to 1e-6
        npt.assert_allclose(y_f, ref, atol=1e-6, equal_nan=True)


def test_resample_ffill_on_points(spark):
    seq = _seq(spark).limit(5)
    pts = explode_points(seq)
    out = resample_ffill(pts, key="doc_id", t="t", y="y", step=10,
                         interpolate=True)
    pdf = out.orderBy("doc_id", "bucket_t").toPandas()
    assert (pdf.groupby("doc_id")["bucket_t"].apply(
        lambda s: (np.diff(s) == 10).all())).all()
    # y_filled should have no interior NaN holes
    for _, grp in pdf.groupby("doc_id"):
        vals = grp["y_filled"].to_numpy()
        good = np.where(~np.isnan(vals.astype(float)))[0]
        if len(good):
            inner = vals[good[0]:good[-1] + 1].astype(float)
            assert not np.isnan(inner).any()


def test_slide_clip_sequences_matches_kernel(spark):
    seq = _seq(spark).limit(6)
    clipped = slide_clip_sequences(seq, window_length=50, low=3, high=3)
    orig = {r.doc_id: r.tokens for r in seq.collect()}
    for r in clipped.collect():
        y_o = decode_tokens(np.asarray(orig[r.doc_id], dtype=np.int32))
        t = np.arange(len(y_o), dtype=np.float64)
        ref = slide_clip_kernel(t, y_o, 50, 3, 3, None, None)
        got = decode_tokens(np.asarray(r.tokens, dtype=np.int32))
        npt.assert_allclose(got, ref, atol=1e-6, equal_nan=True)


def test_transit_mask_col(spark):
    from tests.conftest import reference_module
    helpers = reference_module("helpers")
    t = np.linspace(0, 30, 500)
    ref = helpers.transit_mask(t, 3.1, 0.4, 1.0)
    df = spark.createDataFrame([(float(v),) for v in t], "t double")
    got = np.array([r[0] for r in
                    df.select(transit_mask_col(F.col("t"), 3.1, 0.4, 1.0))
                    .collect()])
    npt.assert_array_equal(got, ref)


def test_auto_chunk_routing_matches_unchunked(spark):
    """detrend_sequences_auto must reproduce the packed path exactly while
    routing long rows through the chunked branch: with a 700-token
    threshold this corpus exercises BOTH branches (and both must agree
    with the unrouted operator bit-for-bit)."""
    from wotan_spark.spark.detrend_op import detrend_sequences_auto

    seq = _seq(spark)
    n_long = seq.filter(F.col("n_tok") > 700).count()
    assert 0 < n_long < N_DOCS  # both branches populated
    plain = {r.doc_id: r for r in
             detrend_sequences(seq, method="biweight",
                               window_length=17).collect()}
    routed = detrend_sequences_auto(seq, method="biweight",
                                    chunk_threshold=700, chunk_size=256,
                                    window_length=17,
                                    keep_tokens=True).collect()
    assert len(routed) == N_DOCS
    orig_tokens = {r.doc_id: r.tokens for r in seq.collect()}
    for row in routed:
        npt.assert_allclose(
            np.asarray(row.flat, dtype=np.float64),
            np.asarray(plain[row.doc_id].flat, dtype=np.float64),
            rtol=1e-12, equal_nan=True)
        # per-row invariant: token arrays survive the routed paths exactly
        assert list(row.tokens) == list(orig_tokens[row.doc_id])


def test_auto_chunk_global_fit_falls_back_unchunked(spark):
    """Global-fit methods are not chunkable: auto must route every row
    through the packed path (plan has a single mapInPandas subtree)."""
    from wotan_spark.spark.detrend_op import detrend_sequences_auto

    seq = _seq(spark)
    routed = detrend_sequences_auto(seq, method="cosine", chunk_threshold=64,
                                    window_length=6.0)
    assert "Union" not in routed._jdf.queryExecution().optimizedPlan().toString()
    assert routed.count() == N_DOCS


def test_fused_rollup_auto_exact_including_median(spark):
    """Skew-safe fused rollup: chunk cores are bucket-aligned, so every
    tier bucket lies wholly inside one chunk and per-bucket stats —
    including the NON-additive median — equal the unchunked fused pass
    column-for-column."""
    import math

    import pandas as pd

    from wotan_spark.spark.detrend_op import detrend_rollup_fused

    seq = _seq(spark)
    plain = detrend_rollup_fused(seq, "biweight", factor=10,
                                 window_length=17).toPandas()
    routed = detrend_rollup_fused(seq, "biweight", factor=10,
                                  chunk_threshold=700, chunk_size=250,
                                  window_length=17).toPandas()
    n_long = seq.filter(F.col("n_tok") > 700).count()
    assert 0 < n_long < N_DOCS       # both branches populated
    key = ["doc_id", "bucket"]
    plain = plain.sort_values(key).reset_index(drop=True)
    routed = routed.sort_values(key).reset_index(drop=True)
    assert len(plain) == len(routed)
    for c in plain.columns:
        a, b = plain[c].to_numpy(), routed[c].to_numpy()
        if a.dtype.kind == "f":
            npt.assert_allclose(a, b, rtol=1e-12, equal_nan=True), c
        else:
            assert (a == b).all(), c


def test_sequence_formats_roundtrip(spark, tmp_path):
    """parquet / json / csv ingest all land on the canonical schema with
    bit-exact token arrays (the per-row invariant) — CSV via the
    Catalyst-only pipe-string round trip."""
    from wotan_spark.spark.sources import read_sequences, write_sequences

    seq = _seq(spark).orderBy("doc_id")
    orig = {r.doc_id: (list(r.tokens), r.n_tok, r.source)
            for r in seq.collect()}
    for fmt in ("parquet", "json", "csv"):
        path = str(tmp_path / fmt)
        write_sequences(seq, path, format=fmt)
        back = read_sequences(spark, path, format=fmt)
        assert [f.name for f in back.schema.fields] == \
            ["doc_id", "tokens", "n_tok", "source"]
        got = {r.doc_id: (list(r.tokens), r.n_tok, r.source)
               for r in back.collect()}
        assert got == orig, fmt


def test_fused_rollup_handles_masks(spark):
    """mask_col through the fused pass must equal the chained
    detrend_sequences(mask) + rollup_tier10 composition column-for-column
    (forwarding the mask kwargs into the kernel verbatim crashed every
    executor task — round-5b review finding), and the auto router's
    masked fallback must take that working path."""
    import pandas as pd

    from wotan_spark.spark.detrend_op import (detrend_rollup_fused,
                                              detrend_sequences)

    seq = _seq(spark).withColumn(
        "m", F.expr("transform(tokens, (x, i) -> i % 11 = 0)"))
    fused = detrend_rollup_fused(seq, "biweight", factor=10,
                                 window_length=17, mask_col="m").toPandas()
    chained = rollup_tier10(
        detrend_sequences(seq, "biweight", keep_tokens=True,
                          window_length=17, mask_col="m"),
        factor=10).toPandas()
    key = ["doc_id", "bucket"]
    fused = fused.sort_values(key).reset_index(drop=True)
    chained = chained[list(fused.columns)].sort_values(key) \
        .reset_index(drop=True)
    pd.testing.assert_frame_equal(fused, chained, check_exact=True)
    routed = detrend_rollup_fused(seq, "biweight", factor=10,
                                  chunk_threshold=700, window_length=17,
                                  mask_col="m").toPandas()
    routed = routed.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(routed, fused, check_exact=True)


def test_kernel_nan_is_null_in_series_and_left_out_of_tiers(spark):
    """Pin what a kernel NaN becomes on egress: a NULL array element (never
    a NaN) on both series routes, packed and chunked, and a point the tier
    emitter's ``flat_n``/``trend_n`` leave out on both routes."""
    from wotan_spark.spark.detrend_op import detrend_rollup_fused
    from wotan_spark.spark.synth import SENTINEL, SEQUENCES_SCHEMA

    toks = (np.arange(60) % 7).astype(np.int32)
    toks[20:25] = SENTINEL                      # a gap: NaN input samples
    df = spark.createDataFrame([("a", toks.tolist(), 60, "s")],
                               schema=SEQUENCES_SCHEMA)
    kw = dict(window_length=5, edge_cutoff=2)   # NaN at valid points too
    y = decode_tokens(toks)
    res = detrend_series(np.arange(60, dtype=np.float64), y, method="mean",
                         **kw)
    nan = np.isnan(res.flatten_lc)
    assert (nan & ~np.isnan(y)).any()
    for route in ({}, dict(chunk_threshold=0, chunk_size=16)):
        row = detrend_sequences(df, "mean", **route, **kw).collect()[0]
        for arr in (row.flat, row.trend):
            assert [v is None for v in arr] == nan.tolist(), route
        tiers = (detrend_rollup_fused(df, "mean", factor=10, **route, **kw)
                 .orderBy("bucket").collect())
        want = (~nan).reshape(6, 10).sum(axis=1).tolist()
        assert [r.flat_n for r in tiers] == want, route
        assert [r.trend_n for r in tiers] == want, route
        assert [r.n for r in tiers] == \
            (~np.isnan(y)).reshape(6, 10).sum(axis=1).tolist(), route


def test_resample_ffill_negative_time_floor_binned(spark):
    """Bucketing must be floor division: a truncating cast (or Spark's
    `div`, which also truncates toward zero) folds t in [-9, 9] into one
    double-width bucket 0, mis-binning every negative timestamp and
    mislabeling its grid time (round-5b review finding)."""
    rows = [("k", -15, 1.0), ("k", -5, 2.0), ("k", 5, 3.0), ("k", 15, 4.0)]
    df = spark.createDataFrame(rows, "key string, t long, y double")
    out = resample_ffill(df, key="key", t="t", y="y", step=10) \
        .orderBy("bucket_t").collect()
    assert [r.bucket_t for r in out] == [-20, -10, 0, 10]
    assert [r.y_raw for r in out] == [1.0, 2.0, 3.0, 4.0]


def test_resample_ffill_span_guard_fails_loudly(spark):
    """A key whose samples span more than max_buckets grid steps must fail
    loudly instead of materializing the dense grid as one giant sequence()
    array in a single task."""
    rows = [("k", 0, 1.0), ("k", 10_000, 2.0)]
    df = spark.createDataFrame(rows, "key string, t long, y double")
    import pytest

    with pytest.raises(Exception, match="coarser step"):
        resample_ffill(df, key="key", t="t", y="y", step=1,
                       max_buckets=100).collect()
    # same data, adequate bound: fine
    n = resample_ffill(df, key="key", t="t", y="y", step=1,
                       max_buckets=20_000).count()
    assert n == 10_001


def test_detrend_auto_outputs_kwarg(spark):
    """detrend_sequences-only kwargs (outputs) must be handled by the auto
    router, not forwarded blind into the chunked branch where **params
    reach detrend_series (union AnalysisException / executor TypeError)."""
    from wotan_spark.spark.detrend_op import (detrend_sequences,
                                              detrend_sequences_auto)

    seq = _seq(spark)
    out = detrend_sequences_auto(seq, method="biweight", chunk_threshold=700,
                                 window_length=17, outputs=("flat",))
    assert set(out.columns) == {"doc_id", "n_tok", "source", "flat"}
    assert seq.filter(F.col("n_tok") > 700).count() > 0  # chunked branch hit
    want = detrend_sequences(seq, method="biweight", window_length=17,
                             outputs=("flat",))
    a = {r.doc_id: np.array(r.flat, dtype=np.float64)
         for r in out.collect()}
    b = {r.doc_id: np.array(r.flat, dtype=np.float64)
         for r in want.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert np.allclose(a[k], b[k], equal_nan=True)


def test_write_sequences_csv_rejects_null_tokens(spark, tmp_path):
    """concat_ws silently SKIPS null array elements, so a null token would
    round-trip as a shorter array than n_tok claims — fail loudly."""
    import pytest

    from wotan_spark.spark.sources import read_sequences, write_sequences

    good = _seq(spark).limit(4)
    write_sequences(good, str(tmp_path / "ok"), format="csv")
    back = read_sequences(spark, str(tmp_path / "ok"), format="csv")
    a = {r.doc_id: list(r.tokens) for r in good.collect()}
    b = {r.doc_id: list(r.tokens) for r in back.collect()}
    assert a == b                                 # bit-exact round trip
    bad = good.withColumn(
        "tokens", F.expr("transform(tokens, (x, i) -> "
                         "if(i = 1, cast(null as int), x))"))
    with pytest.raises(Exception, match="null token"):
        write_sequences(bad, str(tmp_path / "bad"), format="csv")


def test_sequences_from_events_maps_null_nan_to_sentinel(spark, tmp_path):
    """A NULL/NaN event value must become the SENTINEL gap token:
    round(NULL*1000) put a NULL element inside `tokens` (crashing every
    downstream np.asarray(..., int32) decoder) and NaN failed the whole
    build under ANSI casting."""
    from wotan_spark.spark.synth import SENTINEL, sequences_from_events

    rows = [(1, 0, 7, 1.0), (2, 1, 7, None), (3, 2, 7, float("nan")),
            (4, 3, 7, -0.5)]
    df = spark.createDataFrame(
        rows, "event_id long, tsn long, user_id long, value double"
    ).select("event_id", F.timestamp_seconds("tsn").alias("ts"),
             "user_id", "value")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = sequences_from_events(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0].doc_id == "user_7"
    assert out[0].tokens == [1000, int(SENTINEL), int(SENTINEL), -500]
    assert out[0].n_tok == 4
