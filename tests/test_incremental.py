"""Incremental continuous-aggregate update == full recompute."""

from __future__ import annotations

import pyspark.sql.functions as F

from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
from wotan_spark.spark.detrend_op import detrend_rollup_fused
from wotan_spark.spark.synth import synth_sequences


def test_incremental_matches_full(spark, tmp_path):
    cfg = PipelineConfig(method="mean", window_length=17)
    all_seq = synth_sequences(spark, 10, median_len=150, max_len=400)
    first = all_seq.filter("doc_id < 'doc_00000006'")
    late = all_seq.filter("doc_id >= 'doc_00000006'")

    p = Pipeline(spark, str(tmp_path / "inc"), cfg)
    p.run(sequences=first, stop_after="tier100")
    p.update_incremental(late)

    merged = p.tables["tier10"].read(spark)
    full = detrend_rollup_fused(all_seq, "mean", window_length=17)
    assert merged.count() == full.count()
    diff = (full.select("doc_id", "bucket", "y_sum", "n")
            .exceptAll(merged.select("doc_id", "bucket", "y_sum", "n"))
            .count())
    assert diff == 0
    # tier100 merged too
    assert p.tables["tier100"].read(spark).filter(
        F.col("doc_id") >= "doc_00000006").count() > 0


def test_sketch_tiers_build_resume_and_incremental(spark, tmp_path):
    """Sketch tiers (histogram + HLL distinct) are first-class pipeline
    stages: built once, resumed without recompute, and maintained by
    update_incremental to exactly the full-recompute state."""
    from wotan_spark.spark.distinct import (cascade_distinct,
                                            distinct_counts, tier_distinct)
    from wotan_spark.spark.histogram import tier_histogram

    cfg = PipelineConfig(method="mean", window_length=17,
                         sketch_bins=16, sketch_distinct=True,
                         sketch_topk=True)
    all_seq = synth_sequences(spark, 10, median_len=150, max_len=400)
    first = all_seq.filter("doc_id < 'doc_00000006'")
    late = all_seq.filter("doc_id >= 'doc_00000006'")

    p = Pipeline(spark, str(tmp_path / "sk"), cfg)
    out = p.run(sequences=first, stop_after="sketches")
    assert {"hist10", "hist100", "distinct10", "distinct100",
            "topk10", "topk100"} <= set(out)

    # resume: a fresh pipeline object re-runs nothing
    p2 = Pipeline(spark, str(tmp_path / "sk"), cfg)
    out2 = p2.run(stop_after="sketches")
    assert not any(k.startswith(("hist", "distinct", "topk"))
                   for k in out2)

    # incremental merge lands the late docs; state == full recompute
    p2.update_incremental(late)
    got_h = (p2.tables["hist10"].read(spark)
             .select("doc_id", "bucket", "n", "n_below", "n_above", "bins"))
    want_h = tier_histogram(all_seq, factor=10, n_bins=16)
    assert got_h.count() == want_h.count()
    assert want_h.exceptAll(got_h).count() == 0

    got_d = {(r.doc_id, r.bucket): r.n_distinct
             for r in distinct_counts(
                 p2.tables["distinct100"].read(spark)
                 .select("doc_id", "bucket", "sk")).collect()}
    want_d = {(r.doc_id, r.bucket): r.n_distinct
              for r in distinct_counts(cascade_distinct(
                  tier_distinct(all_seq, 10), 10)).collect()}
    assert got_d == want_d and len(got_d) > 0

    from wotan_spark.spark.freq import cascade_topk, tier_topk, topk_estimate
    got_t = {(r.doc_id, r.bucket, r.token): r.cnt
             for r in topk_estimate(
                 p2.tables["topk100"].read(spark)
                 .select("doc_id", "bucket", "sk"), k=128).collect()}
    want_t = {(r.doc_id, r.bucket, r.token): r.cnt
              for r in topk_estimate(cascade_topk(
                  tier_topk(all_seq, 10), 10), k=128).collect()}
    assert got_t == want_t and len(got_t) > 0


def test_incremental_merge_never_fakes_sketch_stage_done(spark, tmp_path):
    """An incremental merge into a never-built sketch table must NOT
    stamp the stage fingerprint: the next run() still owes the full
    build, otherwise the tables would permanently hold only the late
    docs."""
    cfg = PipelineConfig(method="mean", window_length=17,
                         sketch_distinct=True)
    all_seq = synth_sequences(spark, 10, median_len=150, max_len=400)
    first = all_seq.filter("doc_id < 'doc_00000006'")
    late = all_seq.filter("doc_id >= 'doc_00000006'")

    p = Pipeline(spark, str(tmp_path / "mix"), cfg)
    p.run(sequences=first, stop_after="tier100")   # sketches never built
    p.update_incremental(late)                     # merges late docs only
    out = p.run(stop_after="sketches")             # full build must fire
    assert "distinct10" in out and "distinct100" in out
    docs = {r.doc_id for r in p.tables["distinct10"].read(spark)
            .select("doc_id").distinct().collect()}
    assert len(docs) == 10                         # ALL docs, not just late


def test_stop_after_sketches_requires_sketch_config(spark, tmp_path):
    import pytest
    p = Pipeline(spark, str(tmp_path / "nosk"),
                 PipelineConfig(method="mean", window_length=17))
    seq = synth_sequences(spark, 2, median_len=100, max_len=150)
    with pytest.raises(ValueError, match="sketches"):
        p.run(sequences=seq, stop_after="sketches")


def test_incremental_sketch_cascade_respects_fine_retention(spark,
                                                            tmp_path):
    """After fine-tier retention, the incremental coarse cascade derives
    from the fine frame gated at the ALIGNED-DOWN boundary: the fine
    table itself keeps nothing behind the exact cutoff, while a
    late-touched boundary coarse bucket is rebuilt from its COMPLETE
    fine span (never silently shrunk to the cutoff's partial tail)."""
    from wotan_spark.spark.distinct import (cascade_distinct,
                                            distinct_counts, tier_distinct)
    from wotan_spark.spark.retention import RetentionPolicy

    cfg = PipelineConfig(method="mean", window_length=17,
                         sketch_distinct=True)
    all_seq = synth_sequences(spark, 8, median_len=300, max_len=400)
    first = all_seq.filter("doc_id < 'doc_00000006'")
    late = all_seq.filter("doc_id >= 'doc_00000006'")

    p = Pipeline(spark, str(tmp_path / "ret"), cfg)
    p.run(sequences=first, stop_after="sketches")
    p.enforce_retention(RetentionPolicy({"distinct10": 5}))
    cut = p._retention_cutoff("distinct10")
    assert cut is not None and cut > 0

    p.update_incremental(late)
    fine = p.tables["distinct10"].read(spark)
    assert fine.filter(F.col("bucket") < cut).count() == 0
    got = {(r.doc_id, r.bucket): r.n_distinct
           for r in distinct_counts(
               p.tables["distinct100"].read(spark)
               .join(late.select("doc_id"), "doc_id", "left_semi")
               .select("doc_id", "bucket", "sk")).collect()}
    aligned = (cut // 10) * 10
    want = {(r.doc_id, r.bucket): r.n_distinct
            for r in distinct_counts(cascade_distinct(
                tier_distinct(late, 10)
                .filter(F.col("bucket") >= aligned),
                10)).collect()}
    assert got == want and len(got) > 0
