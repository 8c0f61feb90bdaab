"""Pipeline checkpoint/resume + lakehouse snapshot semantics."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from wotan_spark.spark.lakehouse import SnapshotTable
from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
from wotan_spark.spark.synth import synth_sequences


def test_snapshot_table_append_overwrite_timetravel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(5, 8).withColumnRenamed("id", "x")
    s0 = t.append(df1, tag="a")
    s1 = t.append(df2, tag="b")
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot_id=s0).count() == 5  # time travel
    s2 = t.overwrite(df2, tag="c")
    assert t.read(spark).count() == 3
    assert [m["snapshot_id"] for m in t.snapshots()] == [s0, s1, s2]
    assert t.find_snapshot(tag="b")["snapshot_id"] == s1


def test_merge_buckets_upsert(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    base = spark.createDataFrame([("a", 1, 10.0), ("a", 2, 20.0),
                                  ("b", 1, 30.0)], "k string, b int, v double")
    t.overwrite(base)
    upd = spark.createDataFrame([("a", 2, 99.0), ("b", 2, 40.0)],
                                "k string, b int, v double")
    t.merge_buckets(spark, upd, keys=["k", "b"])
    got = {(r.k, r.b): r.v for r in t.read(spark).collect()}
    assert got == {("a", 1): 10.0, ("a", 2): 99.0, ("b", 1): 30.0,
                   ("b", 2): 40.0}


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    seq = synth_sequences(spark, 12, median_len=200, max_len=800)
    cfg = PipelineConfig(method="mean", window_length=17)

    # full run in one shot
    p_full = Pipeline(spark, str(tmp_path / "full"), cfg)
    p_full.run(sequences=seq)
    t100_full = (p_full.tables["tier100"].read(spark)
                 .orderBy("doc_id", "bucket").toPandas())

    # killed after tier10, resumed by a fresh Pipeline object
    p_a = Pipeline(spark, str(tmp_path / "resume"), cfg)
    p_a.run(sequences=seq, stop_after="tier10")
    assert p_a.tables["tier100"].current_snapshot_id() is None
    p_b = Pipeline(spark, str(tmp_path / "resume"), cfg)  # new process sim
    out = p_b.run()
    assert "tier100" in out and "blocks" in out
    assert "detrended" not in out  # stage skipped: checkpoint honored

    t100_resumed = (p_b.tables["tier100"].read(spark)
                    .orderBy("doc_id", "bucket").toPandas())
    assert t100_full.shape == t100_resumed.shape
    np.testing.assert_allclose(
        t100_full["y_sum"].to_numpy(), t100_resumed["y_sum"].to_numpy(),
        rtol=1e-12)

    # lineage rows present for every stage
    lin = p_b.tables["lineage"].read(spark)
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"detrended", "tier10", "tier100", "blocks"} <= stages
    cols = set(lin.columns)
    assert {"partition_id", "input_snapshot", "rows", "checksum",
            "wall_time_s", "run_id"} <= cols
    # rows accounting matches the committed tier10 table
    t10_rows = p_b.tables["tier10"].read(spark).count()
    lin_t10 = (lin.filter(F.col("stage") == "tier10")
               .agg(F.sum("rows")).collect()[0][0])
    assert lin_t10 == t10_rows


def test_pipeline_config_change_triggers_recompute(spark, tmp_path):
    seq = synth_sequences(spark, 6, median_len=150, max_len=400)
    root = str(tmp_path / "cfg")
    p1 = Pipeline(spark, root, PipelineConfig(method="mean", window_length=17))
    p1.run(sequences=seq)
    p2 = Pipeline(spark, root, PipelineConfig(method="median", window_length=17))
    out = p2.run()
    assert "detrended" in out  # fingerprint change -> stage re-ran


def test_read_with_stats_pruning(spark, tmp_path):
    from wotan_spark.spark.synth import synth_sequences
    t = SnapshotTable(str(tmp_path / "pruned"))
    seq = synth_sequences(spark, 40, median_len=60, max_len=120) \
        .repartitionByRange(8, "doc_id")
    t.overwrite(seq)
    full = t.read(spark).count()
    narrow = t.read(spark, where=("doc_id", "doc_00000010", "doc_00000014"))
    assert narrow.count() == 5
    # range-clustered files -> most files pruned by manifest stats
    assert t.last_scan["files_pruned"] > t.last_scan["files_read"]
    assert full == 40


def test_pipeline_checkpoint_dir_promotes_reliable_checkpoint(spark, tmp_path):
    """PipelineConfig.checkpoint_dir must configure the session checkpoint
    dir so pipeline-invoked iterative clustering uses fault-tolerant
    checkpoint() (executor-loss-safe) instead of localCheckpoint —
    evidenced by RDD checkpoint files landing under the configured dir."""
    import os
    from wotan_spark.spark.datapipe import dedup_components

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    ckpt = str(tmp_path / "ckpt")
    try:
        Pipeline(spark, str(tmp_path / "tables"),
                 PipelineConfig(checkpoint_dir=ckpt))
        got = sc.getCheckpointDir()
        # Spark reports a file: URI of a UUID subdir under the configured dir
        assert got is not None and got.replace("file:", "").startswith(ckpt)
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("d", "e")],
            "doc_a string, doc_b string")
        comp = {r.doc_id: r.component
                for r in dedup_components(pairs).collect()}
        assert comp == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}
        written = [os.path.join(d, f)
                   for d, _, fs in os.walk(ckpt) for f in fs]
        assert written, "no reliable-checkpoint files under checkpoint_dir"
    finally:
        # restore the previous (usually unset) dir so other tests keep the
        # single-node localCheckpoint default
        try:
            jsc = sc._jsc.sc()
            jopt = (sc._jvm.scala.Option.apply(prev) if prev is not None
                    else sc._jvm.scala.Option.empty())
            getattr(jsc, "checkpointDir_$eq")(jopt)
        except Exception:
            pass


def test_compaction_binpacks_and_clusters_for_pruning(spark, tmp_path):
    """compact() must shrink the file count without changing data, and a
    cluster_by rewrite must make range reads prune most files via the
    manifest stats."""
    import pyspark.sql.functions as F
    t = SnapshotTable(str(tmp_path / "t"))
    # 6 small-file generations (streaming-merge shape), interleaved ranges
    for g in range(6):
        rows = [(i, float(i * 2)) for i in range(g, 6000, 6)]
        t.append(spark.createDataFrame(rows, "bucket long, y double")
                 .repartition(8), gen=g)
    before_files = len(t.data_files())
    before = t.read(spark).groupBy().agg(
        F.count("*").alias("n"), F.sum("bucket").alias("s")).collect()[0]
    pre_sid = t.current_snapshot_id()

    sid = t.compact(spark, target_file_rows=1500, cluster_by="bucket")
    after_files = len(t.data_files())
    assert after_files < before_files and after_files <= 4
    after = t.read(spark).groupBy().agg(
        F.count("*").alias("n"), F.sum("bucket").alias("s")).collect()[0]
    assert (before.n, before.s) == (after.n, after.s)
    # fragmented history still time-travels
    assert t.read(spark, snapshot_id=pre_sid).count() == before.n
    assert t._manifest(sid)["meta"]["clustered_by"] == "bucket"

    # range probe prunes to a minority of files post-clustering
    got = t.read(spark, where=("bucket", 100, 200))
    assert got.count() == 101
    assert t.last_scan["files_pruned"] >= t.last_scan["files_read"]


def test_pipeline_compaction_with_lineage(spark, tmp_path):
    from wotan_spark.spark.synth import synth_sequences
    pipe = Pipeline(spark, str(tmp_path / "tables"),
                    PipelineConfig(method="mean", window_length=17.0))
    pipe.run(synth_sequences(spark, 6, median_len=400, max_len=800),
             run_id="r1")
    t10_before = (pipe.tables["tier10"].read(spark)
                  .orderBy("doc_id", "bucket").toPandas())
    report = pipe.compact_tables(target_file_rows=100_000)
    assert report["tier10"]["files_after"] <= report["tier10"]["files_before"]
    t10_after = (pipe.tables["tier10"].read(spark)
                 .orderBy("doc_id", "bucket").toPandas())
    assert t10_before.shape == t10_after.shape
    np.testing.assert_allclose(t10_before["y_sum"].to_numpy(),
                               t10_after["y_sum"].to_numpy(), rtol=0)
    lin = pipe.tables["lineage"].read(spark)
    assert lin.filter("stage = 'compact-tier10'").count() >= 1
    # one lineage row per data file of the compaction snapshot, and the
    # rows column accounts for the whole compacted table
    lin_c = lin.filter("stage = 'compact-tier10'")
    sid = report["tier10"]["snapshot_id"]
    assert lin_c.count() == len(pipe.tables["tier10"].data_files(sid))
    assert (lin_c.agg(F.sum("rows")).collect()[0][0]
            == pipe.tables["tier10"].read(spark).count())


def _two_file_table(spark, pipe: Pipeline) -> int:
    """Commit a tiny two-file tier10 snapshot to log lineage for."""
    return pipe.tables["tier10"].overwrite(
        spark.range(10).repartition(2).withColumnRenamed("id", "bucket"))


def test_lineage_commit_starts_no_spark_job(spark, tmp_path):
    """Lineage rows are written from the driver: logging a commit's rows
    starts no Spark job."""
    pipe = Pipeline(spark, str(tmp_path / "tables"))
    sid = _two_file_table(spark, pipe)
    sc = spark.sparkContext
    group = f"lineage-{tmp_path.name}"
    sc.setJobGroup(group, "lineage commit")
    try:
        pipe._log_lineage("tier10", sid, None, "r1", "tier10", 0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    lin = pipe.tables["lineage"].read(spark)
    assert lin.count() == len(pipe.tables["tier10"].data_files(sid)) == 2
    assert lin.agg(F.sum("rows")).collect()[0][0] == 10


def test_lineage_schema_is_what_spark_infers(spark, tmp_path):
    """LINEAGE_SCHEMA pins exactly the schema Spark infers from the same
    row dicts, so pre-existing Spark-written lineage dirs stay one
    schema with the driver-written ones."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from wotan_spark.spark.pipeline import LINEAGE_SCHEMA
    pipe = Pipeline(spark, str(tmp_path / "tables"))
    sid = _two_file_table(spark, pipe)
    pipe._log_lineage("tier10", sid, 3, "r1", "tier10", 0.5)
    (path,) = pipe.tables["lineage"].data_files()
    rows = pq.read_table(path).to_pylist()
    assert pq.read_schema(path).remove_metadata() == LINEAGE_SCHEMA
    assert spark.createDataFrame(rows).schema == \
        from_arrow_schema(LINEAGE_SCHEMA)


def test_lineage_table_mixing_old_and_new_dirs(spark, tmp_path):
    """A lineage table holding one dir written through Spark (the old
    way) and one written from the driver reads back as one frame with
    every row, has one dir schema, and compacts to the same rows."""
    import pyarrow.parquet as pq
    pipe = Pipeline(spark, str(tmp_path / "tables"))
    sid = _two_file_table(spark, pipe)
    lineage = pipe.tables["lineage"]
    pipe._log_lineage("tier10", sid, None, "new", "tier10", 0.5)
    new_rows = pq.read_table(lineage.data_files()[0]).to_pylist()
    old_rows = [dict(r, run_id="old") for r in new_rows]
    lineage.append(spark.createDataFrame(old_rows), stage="tier10",
                   run_id="old")

    def multiset(df):
        return sorted(tuple(r[c] for c in sorted(r.asDict()))
                      for r in df.collect())

    want = sorted(tuple(r[c] for c in sorted(r))
                  for r in old_rows + new_rows)
    assert multiset(lineage.read(spark)) == want
    dirs = lineage._manifest(lineage.current_snapshot_id())["files"]
    assert len(dirs) == 2
    assert lineage._dir_schema(dirs[0]) == lineage._dir_schema(dirs[1])
    lineage.compact(spark, target_file_rows=100)
    assert multiset(lineage.read(spark)) == want


def test_schema_evolution_append_and_merge_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, 10.0)], "x long, y double"))
    t.append(spark.createDataFrame([(2, 20.0, "tag")],
                                   "x long, y double, label string"))
    got = {r.x: (r.y, r.label)
           for r in t.read(spark, merge_schema=True).collect()}
    assert got == {1: (10.0, None), 2: (20.0, "tag")}


def test_pipeline_optional_chunks_stage(spark, tmp_path):
    """pack_context_len adds a resumable chunks stage with its own
    fingerprint: re-running skips it, changing the context length recomputes
    it, and the detrend stages never invalidate either way."""
    seq = synth_sequences(spark, 10, median_len=150, max_len=400)
    root = str(tmp_path / "tables")
    cfg = PipelineConfig(method="mean", window_length=17,
                         pack_context_len=256)
    p1 = Pipeline(spark, root, cfg)
    out1 = p1.run(sequences=seq)
    assert "chunks" in out1
    chunks = p1.tables["chunks"].read(spark)
    n_tok_total = sum(r.n_tok for r in
                      seq.select(F.col("n_tok")).collect())
    rows = chunks.collect()
    assert len(rows) == n_tok_total // 256          # drop_last remainder
    assert all(len(r.tokens) == 256 for r in rows)
    lin = p1.tables["lineage"].read(spark).filter(F.col("stage") == "chunks")
    assert lin.count() >= 1

    # resume: chunks stage skipped, same snapshot
    sid = p1.tables["chunks"].current_snapshot_id()
    out2 = Pipeline(spark, root, cfg).run()
    assert "chunks" not in out2
    assert p1.tables["chunks"].current_snapshot_id() == sid

    # changed context length -> only the chunks stage recomputes
    cfg2 = PipelineConfig(method="mean", window_length=17,
                          pack_context_len=128)
    out3 = Pipeline(spark, root, cfg2).run()
    assert "chunks" in out3 and "detrended" not in out3


def test_pipeline_chunks_switch_back_and_input_growth_recompute(
        spark, tmp_path):
    """Two resume hazards on the chunks stage: (a) switching
    pack_context_len A -> B -> A must recompute on the third run (HEAD
    serves B's data even though an A-fingerprinted snapshot exists in
    history); (b) growing the sequences table (update_incremental) must
    repack — packing is a global re-bucketing that incremental merges
    cannot maintain."""
    seq = synth_sequences(spark, 8, median_len=120, max_len=300)
    root = str(tmp_path / "tables")

    def cfg(L):
        return PipelineConfig(method="mean", window_length=17,
                              pack_context_len=L)

    Pipeline(spark, root, cfg(256)).run(sequences=seq)
    Pipeline(spark, root, cfg(128)).run()
    p3 = Pipeline(spark, root, cfg(256))
    out3 = p3.run()
    assert "chunks" in out3                      # switch-back recomputed
    rows = p3.tables["chunks"].read(spark).collect()
    assert rows and all(len(r.tokens) == 256 for r in rows)

    # same config, same input -> still resumable (no spurious recompute)
    assert "chunks" not in Pipeline(spark, root, cfg(256)).run()

    # input growth: append new docs, next run must repack with them
    extra = synth_sequences(spark, 12, median_len=120,
                            max_len=300).filter(F.col("doc_id") >=
                                                "doc_00000008")
    p3.update_incremental(extra)
    p4 = Pipeline(spark, root, cfg(256))
    out4 = p4.run()
    assert "chunks" in out4
    n_tok_total = (p4.tables["sequences"].read(spark)
                   .agg(F.sum("n_tok")).collect()[0][0])
    got = sum(len(r.tokens) for r in
              p4.tables["chunks"].read(spark).collect())
    assert got == n_tok_total // 256 * 256


def test_pipeline_stop_after_chunks_requires_context_len(spark, tmp_path):
    """stop_after='chunks' on a config without pack_context_len would
    silently no-op the whole run; it must raise instead."""
    import pytest
    seq = synth_sequences(spark, 4, median_len=50, max_len=100)
    p = Pipeline(spark, str(tmp_path / "tables"), PipelineConfig())
    with pytest.raises(ValueError, match="pack_context_len"):
        p.run(sequences=seq, stop_after="chunks")


def test_merge_buckets_rewrites_only_overlapping_files(spark, tmp_path):
    """File-level copy-on-write: a merge touching only recent buckets
    must carry old, non-overlapping data dirs into the new manifest
    verbatim instead of rewriting the whole table."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    old = spark.createDataFrame(
        [("d", b, float(b)) for b in range(0, 50)],
        "doc_id string, bucket long, v double")
    recent = spark.createDataFrame(
        [("d", b, float(b)) for b in range(50, 100)],
        "doc_id string, bucket long, v double")
    t.overwrite(old)
    t.merge_buckets(spark, recent, keys=["doc_id", "bucket"])
    dirs_before = set(t.data_files())

    upd = spark.createDataFrame([("d", 99, -1.0), ("d", 120, -2.0)],
                                "doc_id string, bucket long, v double")
    t.merge_buckets(spark, upd, keys=["doc_id", "bucket"])
    dirs_after = set(t.data_files())
    # the dir holding buckets 0..49 survives untouched in the manifest
    untouched = dirs_before & dirs_after
    assert len(untouched) >= 1
    got = {(r.bucket): r.v for r in t.read(spark).collect()}
    assert got[99] == -1.0 and got[120] == -2.0   # replaced + appended
    assert got[0] == 0.0 and len(got) == 101


def test_clustered_compaction_keeps_merge_pruning(spark, tmp_path):
    """compact(cluster_by) commits one dir per range-clustered file, so
    a later tail merge still carries non-overlapping ranges untouched
    instead of rewriting the whole freshly-compacted table."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    rows = [(f"d{i % 7}", b, float(b)) for i in range(7)
            for b in range(200)]
    t.overwrite(spark.createDataFrame(
        rows, "doc_id string, bucket long, v double"))
    t.compact(spark, target_file_rows=300, cluster_by="bucket")
    dirs_before = set(t._manifest(t.current_snapshot_id())["files"])
    assert len(dirs_before) > 1                     # per-file dirs

    upd = spark.createDataFrame([("d0", 199, -1.0)],
                                "doc_id string, bucket long, v double")
    t.merge_buckets(spark, upd, keys=["doc_id", "bucket"])
    dirs_after = set(t._manifest(t.current_snapshot_id())["files"])
    assert len(dirs_before & dirs_after) >= 1       # head ranges untouched
    got = t.read(spark)
    assert got.count() == len(rows)
    assert got.filter("doc_id = 'd0' and bucket = 199").first().v == -1.0


def test_merge_buckets_does_not_evict_caller_cache(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [("d", 0, 1.0)], "doc_id string, bucket long, v double"))
    upd = spark.createDataFrame([("d", 1, 2.0)],
                                "doc_id string, bucket long, v double")
    upd = upd.persist()
    try:
        upd.count()
        t.merge_buckets(spark, upd, keys=["doc_id", "bucket"])
        assert upd.is_cached                 # caller-owned cache survives
    finally:
        upd.unpersist()


def test_merge_buckets_pure_append_coerces_to_stored_schema(spark,
                                                            tmp_path):
    """A tail-append batch with a narrower column type must land in the
    table's stored types (the old full-rewrite path got this from
    unionByName)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [("d", 0, 1.0)], "doc_id string, bucket long, v double"))
    upd = spark.createDataFrame([("d", 100, 2)],
                                "doc_id string, bucket int, v int")
    t.merge_buckets(spark, upd, keys=["doc_id", "bucket"])
    out = t.read(spark)                      # no mergeSchema needed
    assert dict(out.dtypes)["bucket"] == "bigint"
    assert {(r.bucket, r.v) for r in out.collect()} == {(0, 1.0),
                                                        (100, 2.0)}


def test_merge_buckets_prunes_on_any_key_column(spark, tmp_path):
    """New-doc batches prune on doc_id range disjointness even when
    bucket ranges fully overlap — any key column can rule a dir out."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [(f"doc_{i:03d}", b, 1.0) for i in range(10) for b in range(20)],
        "doc_id string, bucket long, v double"))
    dirs_before = set(t._manifest(t.current_snapshot_id())["files"])
    new_docs = spark.createDataFrame(
        [(f"doc_{i:03d}", b, 2.0) for i in range(10, 13)
         for b in range(20)],                 # buckets overlap, docs don't
        "doc_id string, bucket long, v double")
    t.merge_buckets(spark, new_docs, keys=["doc_id", "bucket"])
    dirs_after = set(t._manifest(t.current_snapshot_id())["files"])
    assert dirs_before <= dirs_after          # old dir carried verbatim
    assert t.read(spark).count() == 260


def test_merge_buckets_timestamp_key_never_crashes(spark, tmp_path):
    """Date/timestamp key stats round-trip through JSON as strings —
    incomparable with native bounds.  The merge must degrade to
    no-pruning, never crash."""
    import datetime
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [("d", datetime.datetime(2024, 1, 1), 1.0)],
        "doc_id string, ts timestamp, v double"))
    upd = spark.createDataFrame(
        [("d", datetime.datetime(2025, 6, 1), 2.0)],
        "doc_id string, ts timestamp, v double")
    t.merge_buckets(spark, upd, keys=["doc_id", "ts"])
    assert t.read(spark).count() == 2


def test_merge_buckets_mixed_schema_dirs_keep_evolved_columns(spark,
                                                              tmp_path):
    """append() supports schema evolution, so a snapshot can hold
    mixed-schema dirs.  A merge over such a snapshot must take the
    mergeSchema + unionByName rewrite — the evolved column survives
    (null-filled where absent) instead of being silently dropped by a
    dirs[0]-only schema read (ADVICE r03)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [("d", 0, 1.0)], "doc_id string, bucket long, v double"))
    # evolved append: extra column q only in the second dir
    t.append(spark.createDataFrame(
        [("d", 1, 2.0, 9.0)],
        "doc_id string, bucket long, v double, q double"))
    upd = spark.createDataFrame([("d", 0, 10.0)],
                                "doc_id string, bucket long, v double")
    t.merge_buckets(spark, upd, keys=["doc_id", "bucket"])
    out = t.read(spark)                       # no mergeSchema needed
    assert "q" in out.columns, "evolved column dropped by merge"
    got = {(r.bucket, r.v, r.q) for r in out.collect()}
    assert got == {(0, 10.0, None), (1, 2.0, 9.0)}
    # the rewrite converged the table onto ONE schema: pruning works again
    fps = {t._dir_schema(d)
           for d in t._manifest(t.current_snapshot_id())["files"]}
    assert len(fps) == 1


def test_merge_buckets_schema_divergence_takes_full_rewrite(spark,
                                                            tmp_path):
    """A batch whose types differ from the stored schema must take the
    full unionByName path (one resolved schema for the whole table),
    never land pruned/partial with divergent files."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [("d", 0, 1.0)], "doc_id string, bucket long, v double"))
    dirs_before = set(t._manifest(t.current_snapshot_id())["files"])
    upd = spark.createDataFrame([("d", 10**10, 2)],
                                "doc_id string, bucket long, v int")
    t.merge_buckets(spark, upd, keys=["doc_id", "bucket"])
    dirs_after = set(t._manifest(t.current_snapshot_id())["files"])
    assert not (dirs_before & dirs_after)    # full rewrite, no carry-over
    out = t.read(spark)
    assert dict(out.dtypes)["v"] == "double"  # unionByName resolution
    assert {(r.bucket, r.v) for r in out.collect()} == {(0, 1.0),
                                                        (10**10, 2.0)}


def test_merge_buckets_keeps_null_key_rows(spark, tmp_path):
    """Stored rows with a null key survive a merge, and batch rows with
    a null key field replace nothing (SQL equality never matches a null,
    as under a left_anti join on the keys); both are appended."""
    schema = "doc_id string, bucket long, v double"
    t = SnapshotTable(str(tmp_path / "doc"))
    t.overwrite(spark.createDataFrame(
        [("a", 0, 1.0), (None, 1, 2.0), ("b", 0, 3.0)], schema))
    t.merge_buckets(spark, spark.createDataFrame(
        [("a", 5, 9.0), (None, 7, 8.0)], schema), keys=["doc_id"])
    assert sorted(map(tuple, t.read(spark).collect()),
                  key=repr) == sorted(
        [("a", 5, 9.0), (None, 1, 2.0), (None, 7, 8.0), ("b", 0, 3.0)],
        key=repr)

    t = SnapshotTable(str(tmp_path / "doc_bucket"))
    t.overwrite(spark.createDataFrame(
        [("a", 0, 1.0), ("a", None, 2.0), (None, 0, 3.0), ("b", 1, 4.0)],
        schema))
    t.merge_buckets(spark, spark.createDataFrame(
        [("a", 0, 10.0), ("a", None, 20.0), (None, 0, 30.0)], schema),
        keys=["doc_id", "bucket"])
    assert sorted(map(tuple, t.read(spark).collect()),
                  key=repr) == sorted(
        [("a", 0, 10.0), ("a", None, 2.0), ("a", None, 20.0),
         (None, 0, 3.0), (None, 0, 30.0), ("b", 1, 4.0)], key=repr)


def test_merge_buckets_replaces_ntz_keys_in_any_driver_zone(
        spark, tmp_path, monkeypatch):
    """A TIMESTAMP_NTZ key collected to the driver is a wall clock; the
    merge must match it to the stored row even when the driver's local
    zone differs from the session's (a plain datetime literal would be
    read as a local instant and miss the row)."""
    import time
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.sql("SELECT TIMESTAMP_NTZ'2024-01-01 05:30:00.123456'"
                          " AS ts, 1.0D AS v"))
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        t.merge_buckets(spark, t.read(spark).withColumn("v", F.lit(2.0)),
                        keys=["ts"])
    finally:
        monkeypatch.undo()
        time.tzset()
    assert [r.v for r in t.read(spark).collect()] == [2.0]


def _spark_jobs(spark, group: str, fn) -> int:
    """Number of Spark jobs that ``fn()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_buckets_of_a_persisted_frame_runs_two_jobs(spark, tmp_path):
    """A same-schema, doc-keyed merge reads its batch's keys in one
    collect and filters the old rows with an in-set: the key collect and
    the write are its only Spark jobs (a bounds aggregate and a
    left_anti join against the distinct keys took 6 to 8)."""
    schema = "doc_id string, bucket long, v double"
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [(f"doc_{i}", b, 1.0) for i in range(4) for b in range(3)], schema))
    upd = spark.createDataFrame(
        [(f"doc_{i}", b, 2.0) for i in (1, 5) for b in range(2)],
        schema).persist()
    try:
        upd.count()
        jobs = _spark_jobs(spark, f"merge-{tmp_path.name}", lambda:
                           t.merge_buckets(spark, upd, keys=["doc_id"]))
    finally:
        upd.unpersist()
    assert jobs <= 2, jobs
    got = {(r.doc_id, r.bucket): r.v for r in t.read(spark).collect()}
    assert len(got) == 13
    assert got[("doc_1", 0)] == 2.0 and ("doc_1", 2) not in got
    assert got[("doc_5", 1)] == 2.0 and got[("doc_2", 2)] == 1.0


def test_update_incremental_runs_at_most_ten_jobs(spark, tmp_path):
    """One read of the batch's doc ids serves the duplicate check, the
    sequences merge and the changed-doc set, and each merge reads its
    own keys once: 2 re-delivered + 3 new docs onto a 12-doc build run
    at most 10 Spark jobs (a groupBy check, a semi-join and per-merge
    bounds aggregates and anti-joins ran 23)."""
    seq = synth_sequences(spark, 15, median_len=120, max_len=300)
    p = Pipeline(spark, str(tmp_path / "p"),
                 PipelineConfig(method="mean", window_length=17))
    p.run(sequences=seq.filter("doc_id < 'doc_00000012'"))
    batch = seq.filter("doc_id < 'doc_00000002' or "
                       "doc_id >= 'doc_00000012'")
    jobs = _spark_jobs(spark, f"inc-{tmp_path.name}",
                       lambda: p.update_incremental(batch, run_id="late"))
    assert jobs <= 10, jobs
    assert p.tables["sequences"].read(spark).count() == 15
    t10 = p.tables["tier10"].read(spark)
    assert t10.select("doc_id").distinct().count() == 15
    assert t10.groupBy("doc_id", "bucket").count() \
        .filter(F.col("count") > 1).count() == 0


def test_dir_schema_survives_corrupt_sidecar_and_footer(spark, tmp_path):
    """Round-4 review: a _schema.json holding valid JSON of the wrong
    shape, or a corrupt parquet footer, must degrade to the documented
    None = conservative full rewrite — never raise out of merge_buckets."""
    import json
    import os

    from wotan_spark.spark.lakehouse import SnapshotTable
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([("a", 1, 1.0)],
                                      "doc_id string, bucket long, y double"))
    d = t._manifest(t.current_snapshot_id())["files"][0]
    # wrong-shape JSON sidecar: falls through to the parquet footer
    with open(os.path.join(d, "_schema.json"), "w") as f:
        json.dump({"not": "a schema"}, f)
    assert t._dir_schema(d) is not None          # footer still readable
    # healthy data + broken sidecar: the merge completes normally
    sid = t.merge_buckets(spark, spark.createDataFrame(
        [("a", 2, 2.0)], "doc_id string, bucket long, y double"),
        keys=["doc_id", "bucket"])
    assert {(r.bucket, r.y) for r in t.read(spark).collect()} == \
        {(1, 1.0), (2, 2.0)}
    d = t._manifest(sid)["files"][-1]
    # corrupt the new dir's sidecar AND every footer: now undeterminable
    with open(os.path.join(d, "_schema.json"), "w") as f:
        json.dump(["bad", "shape"], f)
    for fn in os.listdir(d):
        if fn.endswith(".parquet"):
            with open(os.path.join(d, fn), "wb") as f:
                f.write(b"not parquet at all")
    assert t._dir_schema(d) is None
    # the conservative rewrite then READS the dir — destroyed data files
    # surface as a loud Spark read error (data loss must never be silent),
    # not a swallowed fingerprint exception
    import pytest
    with pytest.raises(Exception, match="parquet|Parquet|stage failure"):
        t.merge_buckets(spark, spark.createDataFrame(
            [("a", 2, 2.0)], "doc_id string, bucket long, y double"),
            keys=["doc_id", "bucket"])


def test_pipeline_periodogram_stage_resumable_and_incremental(spark,
                                                              tmp_path):
    """Round-5 verdict item 8: dominant_periods as a pipeline tier —
    committed + fingerprinted like the sketch tiers (full build resumes,
    toggling it never invalidates other stages), maintained per-doc by
    update_incremental."""
    from wotan_spark.spark.periodogram import dominant_periods

    seq = synth_sequences(spark, 10, median_len=200, max_len=800)
    cfg = PipelineConfig(method="mean", window_length=17,
                         periodogram_topk=2)
    p = Pipeline(spark, str(tmp_path / "p"), cfg)
    out = p.run(sequences=seq, stop_after="periods")
    assert "periods" in out
    got = (p.tables["periods"].read(spark)
           .orderBy("doc_id", "rank").toPandas())
    want = (dominant_periods(seq, top_k=2)
            .orderBy("doc_id", "rank").toPandas())
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    np.testing.assert_allclose(got["period"], want["period"], rtol=1e-12)
    # resume skips the committed stage
    p2 = Pipeline(spark, str(tmp_path / "p"), cfg)
    out2 = p2.run()
    assert "periods" not in out2 and "blocks" in out2
    # incremental: a new doc's periods are upserted without a full rerun
    extra = synth_sequences(spark, 3, median_len=200, max_len=400,
                            seed=99).withColumn(
        "doc_id", F.concat(F.lit("new-"), F.col("doc_id")))
    p2.update_incremental(extra)
    per = p2.tables["periods"].read(spark)
    assert per.filter(per.doc_id.startswith("new-")).count() == \
        extra.count() * 2
    # replay-idempotent, like the other merges
    n_before = per.count()
    p2.merge_changed(extra.select("doc_id"), run_id="replay")
    assert p2.tables["periods"].read(spark).count() == n_before
    # and the stage stays 'done' for the next run
    out3 = Pipeline(spark, str(tmp_path / "p"), cfg).run()
    assert "periods" not in out3


def test_pipeline_stop_after_periods_fails_fast(spark, tmp_path):
    """stop_after='periods' without periodogram_topk must raise BEFORE
    any upstream stage runs (detrend/tier/sketch work at scale is hours)
    — same fast-fail contract as the chunks/sketches guards."""
    import pytest
    seq = synth_sequences(spark, 4, median_len=50, max_len=100)
    p = Pipeline(spark, str(tmp_path / "tables"), PipelineConfig())
    with pytest.raises(ValueError, match="periodogram_topk"):
        p.run(sequences=seq, stop_after="periods")
    # no stage past ingestion committed anything
    assert p.tables["detrended"].current_snapshot_id() is None
    assert p.tables["tier10"].current_snapshot_id() is None


def test_update_incremental_redelivery_replaces(spark, tmp_path):
    """A re-delivered doc_id REPLACES its stored sequence row (corrected
    copy): a blind append left two rows and merge_changed committed
    duplicate (doc_id, bucket) tier rows that double-counted the doc
    forever (round-5b review finding).  Intra-batch duplicates raise."""
    import pytest

    seq = synth_sequences(spark, 8, median_len=120, max_len=300)
    cfg = PipelineConfig(method="mean", window_length=17)
    p = Pipeline(spark, str(tmp_path / "p"), cfg)
    p.run(sequences=seq)
    n0 = p.tables["sequences"].read(spark).count()

    # corrected copy of one existing doc: tokens shifted by one bucket
    one = seq.limit(1)
    fixed = one.select("doc_id",
                       F.expr("slice(tokens, 1, 50)").alias("tokens"),
                       F.lit(50).cast("int").alias("n_tok"), "source")
    p.update_incremental(fixed, run_id="fix-1")
    assert p.tables["sequences"].read(spark).count() == n0  # replaced
    doc = fixed.first().doc_id
    t10 = p.tables["tier10"].read(spark).filter(F.col("doc_id") == doc)
    per_bucket = (t10.groupBy("bucket").count()
                  .filter(F.col("count") > 1).count())
    assert per_bucket == 0                                  # no dup rows
    assert t10.count() == 5                                 # 50 tokens / 10

    dup_batch = fixed.union(fixed)
    with pytest.raises(ValueError, match="times"):
        p.update_incremental(dup_batch, run_id="fix-2")


def test_full_stages_go_stale_after_incremental(spark, tmp_path):
    """detrended/blocks cannot be merge-maintained, so after
    update_incremental they must be recomputed by the next run() — they
    previously stayed 'done' forever and silently excluded late docs."""
    seq = synth_sequences(spark, 6, median_len=120, max_len=300)
    cfg = PipelineConfig(method="mean", window_length=17)
    p = Pipeline(spark, str(tmp_path / "p"), cfg)
    p.run(sequences=seq)

    late = (synth_sequences(spark, 8, median_len=120, max_len=300)
            .orderBy("doc_id").limit(8)
            .filter(~F.col("doc_id").isin(
                [r.doc_id for r in seq.select("doc_id").collect()])))
    assert late.count() > 0
    p.update_incremental(late, run_id="late-1")

    out = p.run()
    assert "detrended" in out and "blocks" in out      # stale -> recomputed
    assert "tier10" not in out                         # maintained: done
    det_docs = {r.doc_id for r in p.tables["detrended"].read(spark)
                .select("doc_id").distinct().collect()}
    assert {r.doc_id for r in late.collect()} <= det_docs


def test_ingest_content_fingerprint(spark, tmp_path):
    """run(sequences=different_frame) must re-ingest and rebuild (the
    constant 'input' fingerprint silently DISCARDED the new data);
    replaying the identical frame stays a no-op."""
    a = synth_sequences(spark, 5, median_len=100, max_len=200)
    b = synth_sequences(spark, 9, median_len=100, max_len=200)
    cfg = PipelineConfig(method="mean", window_length=17)
    p = Pipeline(spark, str(tmp_path / "p"), cfg)
    p.run(sequences=a)
    assert p.tables["sequences"].read(spark).count() == 5
    out2 = p.run(sequences=b)                  # DIFFERENT corpus
    assert "sequences" in out2 and "tier10" in out2
    assert p.tables["sequences"].read(spark).count() == 9
    assert (p.tables["tier10"].read(spark).select("doc_id").distinct()
            .count() == 9)
    out3 = p.run(sequences=b)                  # identical replay: no-op
    assert "tier10" not in out3 and "detrended" not in out3


def test_run_rejects_unknown_stop_after(spark, tmp_path):
    import pytest

    seq = synth_sequences(spark, 3, median_len=100, max_len=200)
    p = Pipeline(spark, str(tmp_path / "p"),
                 PipelineConfig(method="mean", window_length=17))
    with pytest.raises(ValueError, match="stop_after"):
        p.run(sequences=seq, stop_after="tier-10")


def test_compact_preserves_evolved_schema(spark, tmp_path):
    """compact() must mergeSchema-read: schema evolution via append is a
    supported write, and a plain read took one arbitrary footer's schema,
    silently dropping the evolved column from the rewritten snapshot."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, 10.0)], "k long, v double"))
    t.append(spark.createDataFrame([(2, 20.0, "x")],
                                   "k long, v double, extra string"))
    t.compact(spark, target_file_rows=10)
    got = t.read(spark, merge_schema=True)
    assert "extra" in got.columns
    vals = {r.k: r.extra for r in got.collect()}
    assert vals == {1: None, 2: "x"}


def test_read_where_stringified_stats_no_crash(spark, tmp_path):
    """File stats round-trip through JSON as strings for date columns;
    read(where=) must treat them as unprunable instead of raising
    TypeError on str-vs-date comparison."""
    import datetime

    t = SnapshotTable(str(tmp_path / "tbl"))
    rows = [(datetime.date(2024, 1, d), float(d)) for d in range(1, 9)]
    t.overwrite(spark.createDataFrame(rows, "d date, v double"))
    out = t.read(spark, where=("d", datetime.date(2024, 1, 2),
                               datetime.date(2024, 1, 3)))
    assert out.count() == 2


def test_file_stats_poisoned_by_statless_row_group(spark, tmp_path):
    """A row group without min/max for a column must remove that column's
    file-level bounds entirely — partial bounds under-cover the file and
    make pruning drop rows that live in the skipped row group."""
    import json
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    del np  # noqa: F841 — binary stats, not NaN, trigger the skip path
    t = SnapshotTable(str(tmp_path / "tbl"))
    d = os.path.join(t.root, "data", "manual")
    os.makedirs(d)
    # row group 1: clean; row group 2: binary stats that fail UTF-8 decode
    # (the writer records min/max bytes, the stats reader cannot compare
    # them -> must poison the column, not keep row group 1's bounds)
    tab1 = pa.table({"k": pa.array([1, 2], pa.int64()),
                     "v": pa.array([b"aa", b"bb"], pa.binary())})
    tab2 = pa.table({"k": pa.array([3, 4], pa.int64()),
                     "v": pa.array([b"\xff\xfe", b"\xff\xff"], pa.binary())})
    with pq.ParquetWriter(os.path.join(d, "part-0.parquet"), tab1.schema) \
            as w:
        w.write_table(tab1)
        w.write_table(tab2)
    t._write_file_stats(d)
    stats = json.load(open(os.path.join(d, "_file_stats.json")))
    cols = stats["part-0.parquet"]["columns"]
    assert "k" in cols and cols["k"] == [1, 4]
    assert "v" not in cols      # poisoned, not partial


def test_zorder_compaction_prunes_on_both_dimensions(spark, tmp_path):
    """compact(cluster_by=[x, y]) Z-orders: narrow probes on EITHER
    dimension prune a majority of files — where single-column clustering
    by x leaves a y probe scanning everything — and the data survives as
    an identical multiset."""
    import pyspark.sql.functions as F
    from wotan_spark.spark.lakehouse import SnapshotTable

    # two independent dimensions (row-major grid: x varies slowly, y
    # fast, so naive insertion order clusters x but scatters nothing)
    rows = [(x, y, float(x * 1000 + y))
            for x in range(80) for y in range(80)]
    df = spark.createDataFrame(rows, "x int, y int, v double")

    tz = SnapshotTable(str(tmp_path / "tz"))
    tz.append(df.repartition(8))
    sid = tz.compact(spark, target_file_rows=400, cluster_by=["x", "y"])
    assert tz._manifest(sid)["meta"]["clustered_by"] == "x,y"
    assert tz._manifest(sid)["meta"]["zorder"] is True
    assert tz.read(spark).count() == 6400
    assert tz.read(spark).agg(F.sum("v")).collect()[0][0] == \
        sum(r[2] for r in rows)

    tx = SnapshotTable(str(tmp_path / "tx"))
    tx.append(df.repartition(8))
    tx.compact(spark, target_file_rows=400, cluster_by="x")

    # both probes prune on the z-ordered table.  A 10/80-wide slab over
    # a ~4x4 z-tiling must read a full tile column (~25%) plus boundary
    # tiles, so the bound is >=50% pruned with an absolute floor — the
    # contrast case below prunes ZERO
    for col in ("x", "y"):
        got = tz.read(spark, where=(col, 10, 19))
        assert got.count() == 10 * 80
        assert tz.last_scan["files_pruned"] >= tz.last_scan["files_read"], \
            (col, tz.last_scan)
        assert tz.last_scan["files_pruned"] >= 6, (col, tz.last_scan)
    # conjunctive 2-D probe: the tile INTERSECTION — prunes strictly
    # more than either slab alone, and the residual is the AND
    both = tz.read(spark, where=[("x", 10, 19), ("y", 10, 19)])
    assert both.count() == 10 * 10
    assert tz.last_scan["files_read"] <= 4, tz.last_scan
    # the x-clustered table prunes on x but cannot prune on y
    tx.read(spark, where=("y", 10, 19))
    assert tx.last_scan["files_pruned"] == 0
    # single-element list degrades to plain range clustering (no z meta)
    t1 = SnapshotTable(str(tmp_path / "t1"))
    t1.append(df.repartition(4))
    s1 = t1.compact(spark, target_file_rows=1600, cluster_by=["x"])
    assert "zorder" not in t1._manifest(s1)["meta"]


def test_zorder_rejects_string_and_unknown_columns(spark, tmp_path):
    import pytest as _pytest
    from wotan_spark.spark.lakehouse import SnapshotTable
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "x int, s string"))
    with _pytest.raises(ValueError, match="only numeric"):
        t.compact(spark, cluster_by=["x", "s"])
    with _pytest.raises(ValueError, match="not in table"):
        t.compact(spark, cluster_by=["x", "nope"])


def test_every_pipeline_table_reads_the_inferred_schema(spark, tmp_path):
    """For every table a pipeline run writes, sketch and periods tables
    included, the schema a scan takes from the footers is the one Spark
    infers; every Spark-written table takes the footer path."""
    cfg = PipelineConfig(method="mean", window_length=17.0, sketch_bins=8,
                         sketch_distinct=True, sketch_topk=True,
                         periodogram_topk=2)
    pipe = Pipeline(spark, str(tmp_path / "p"), cfg)
    pipe.run(synth_sequences(spark, 6, median_len=200, max_len=400),
             run_id="r1")
    written = {n for n, t in pipe.tables.items()
               if t.current_snapshot_id() is not None}
    assert {"sequences", "detrended", "tier10", "tier100", "blocks",
            "hist10", "hist100", "distinct10", "distinct100", "topk10",
            "topk100", "periods", "lineage"} <= written
    for name in sorted(written):
        t = pipe.tables[name]
        dirs = t._manifest(t.current_snapshot_id())["files"]
        footers = {t._footer_schema(d) for d in dirs}
        if name != "lineage":        # lineage rows are written by pyarrow
            assert len(footers) == 1 and None not in footers, name
        assert t.read(spark).schema == spark.read.parquet(*dirs).schema, \
            name
