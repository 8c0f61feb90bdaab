"""Streaming ingestion tests."""

from __future__ import annotations


def test_streaming_ingestion_incremental(spark, tmp_path):
    from wotan_spark.spark.lakehouse import SnapshotTable
    from wotan_spark.spark.detrend_op import detrend_rollup_fused
    from wotan_spark.spark.streaming import run_ingestion
    from wotan_spark.spark.synth import synth_sequences

    landing = str(tmp_path / "landing")
    table_root = str(tmp_path / "tier10")
    ckpt = str(tmp_path / "ckpt")

    seq_a = synth_sequences(spark, 6, median_len=150, max_len=400)
    seq_a.write.mode("overwrite").parquet(landing)
    run_ingestion(spark, landing, table_root, ckpt, method="mean",
                  window_length=17)
    t = SnapshotTable(table_root)
    n1 = t.read(spark).count()
    assert n1 > 0

    # late batch lands -> second drain only processes the new files
    seq_b = synth_sequences(spark, 12, median_len=150, max_len=400) \
        .filter("doc_id >= 'doc_00000006'")
    seq_b.write.mode("append").parquet(landing)
    run_ingestion(spark, landing, table_root, ckpt, method="mean",
                  window_length=17)
    merged = t.read(spark)
    n2 = merged.count()
    assert n2 > n1
    assert merged.select("doc_id").distinct().count() == 12

    # equivalence with a one-shot batch run over the same 12 docs
    batch = detrend_rollup_fused(
        spark.read.parquet(landing), "mean", window_length=17)
    assert batch.count() == n2
    diff = (batch.select("doc_id", "bucket", "y_sum").exceptAll(
        merged.select("doc_id", "bucket", "y_sum"))).count()
    assert diff == 0


def test_streaming_pipeline_ingestion_maintains_all_tiers(spark, tmp_path):
    """run_pipeline_ingestion drains landing files through the full
    incremental path: stats tiers AND sketch tiers advance per drain, and
    a replayed batch (at-least-once foreachBatch) neither duplicates the
    raw append nor perturbs the merged state."""
    from wotan_spark.spark.distinct import distinct_counts, tier_distinct
    from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
    from wotan_spark.spark.detrend_op import detrend_rollup_fused
    from wotan_spark.spark.streaming import (_pipeline_sink,
                                             run_pipeline_ingestion)
    from wotan_spark.spark.synth import synth_sequences

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig(method="mean", window_length=17,
                         sketch_distinct=True)
    p = Pipeline(spark, str(tmp_path / "pipe"), cfg)

    seq_a = synth_sequences(spark, 6, median_len=150, max_len=400)
    seq_a.write.mode("overwrite").parquet(landing)
    run_pipeline_ingestion(spark, landing, p, ckpt)
    assert p.tables["tier10"].read(spark).count() > 0
    assert p.tables["distinct10"].read(spark).count() > 0

    # second drain picks up only the late files
    seq_b = synth_sequences(spark, 12, median_len=150, max_len=400) \
        .filter("doc_id >= 'doc_00000006'")
    seq_b.write.mode("append").parquet(landing)
    run_pipeline_ingestion(spark, landing, p, ckpt)

    all_seq = spark.read.parquet(landing)
    assert (p.tables["sequences"].read(spark).count()
            == all_seq.count())                       # no duplicate appends
    batch = detrend_rollup_fused(all_seq, "mean", window_length=17)
    merged = p.tables["tier10"].read(spark)
    assert batch.count() == merged.count()
    assert (batch.select("doc_id", "bucket", "y_sum")
            .exceptAll(merged.select("doc_id", "bucket", "y_sum"))
            .count()) == 0
    want_d = {(r.doc_id, r.bucket): r.n_distinct
              for r in distinct_counts(tier_distinct(all_seq, 10)).collect()}
    got_d = {(r.doc_id, r.bucket): r.n_distinct
             for r in distinct_counts(
                 p.tables["distinct10"].read(spark)
                 .select("doc_id", "bucket", "sk")).collect()}
    assert got_d == want_d

    # simulate a foreachBatch replay of an already-committed batch id:
    # the guard must take the merge-only path and change nothing
    n_seq_files = len(p.tables["sequences"].data_files())
    rid = [m["meta"]["run_id"] for m in p.tables["sequences"].snapshots()
           if str(m.get("meta", {}).get("run_id", "")).startswith("stream-")][-1]
    _pipeline_sink(p, seq_b, rid)
    assert len(p.tables["sequences"].data_files()) == n_seq_files
    merged2 = p.tables["tier10"].read(spark)
    assert merged2.count() == batch.count()
    assert (batch.select("doc_id", "bucket", "y_sum")
            .exceptAll(merged2.select("doc_id", "bucket", "y_sum"))
            .count()) == 0
