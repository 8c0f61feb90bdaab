"""Retention-policy enforcement + snapshot expiry (north-star: cascading
retention tiers where fine tiers age out and coarse tiers persist)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from wotan_spark.spark.lakehouse import SnapshotTable
from wotan_spark.spark.retention import (RetentionPolicy, apply_retention,
                                         cutoffs_from_policy,
                                         expire_snapshots)


@pytest.fixture()
def tier_tables(spark, tmp_path):
    t10 = SnapshotTable(str(tmp_path / "tier10"))
    t100 = SnapshotTable(str(tmp_path / "tier100"))
    rows10 = [(f"doc_{i % 3}", b, float(b)) for i in range(3)
              for b in range(20)]
    rows100 = [(f"doc_{i % 3}", b, float(b)) for i in range(3)
               for b in range(2)]
    t10.overwrite(spark.createDataFrame(
        rows10, "doc_id string, bucket long, y_sum double"), run_id="init")
    t100.overwrite(spark.createDataFrame(
        rows100, "doc_id string, bucket long, y_sum double"), run_id="init")
    return {"tier10": t10, "tier100": t100}


def test_retention_drops_fine_tier_keeps_coarse(spark, tier_tables):
    policy = RetentionPolicy({"tier10": 5, "tier100": None})
    pre_sid = tier_tables["tier10"].current_snapshot_id()
    cutoffs = cutoffs_from_policy(spark, tier_tables, policy)
    assert cutoffs == {"tier10": 15}     # max bucket 19, keep 5
    report = apply_retention(spark, tier_tables, cutoffs)
    assert report["tier10"]["dropped"] == 45 and report["tier10"]["kept"] == 15
    t10 = tier_tables["tier10"].read(spark)
    assert t10.agg(F.min("bucket")).collect()[0][0] == 15
    # the coarse tier is untouched; the policy keeps it forever
    assert tier_tables["tier100"].read(spark).count() == 6
    # retention is copy-on-write: the pre-retention snapshot still reads full
    old = tier_tables["tier10"].read(spark, snapshot_id=pre_sid)
    assert old.count() == 60


def test_expire_snapshots_reclaims_storage(spark, tier_tables):
    t10 = tier_tables["tier10"]
    apply_retention(spark, tier_tables, {"tier10": 10})
    apply_retention(spark, tier_tables, {"tier10": 15})
    assert len(t10.snapshots()) == 3
    old_dirs = set(t10._manifest(0)["files"])
    out = expire_snapshots(t10, keep_last=2)
    assert out["expired"] == 1 and out["dirs_deleted"] >= 1
    # current read unaffected; chain truncated to the kept snapshots
    assert t10.read(spark).agg(F.min("bucket")).collect()[0][0] == 15
    assert len(t10.snapshots()) == 2
    for d in old_dirs:
        assert not os.path.exists(d)


def test_expire_snapshots_preserves_retention_cutoff(spark, tier_tables):
    """Expiring the snapshot that recorded the retention cutoff must not
    disarm the late-data gate: the rewritten chain root carries the
    newest cutoff forward (ADVICE r2)."""
    from wotan_spark.spark.retention import retention_cutoff
    t10 = tier_tables["tier10"]
    apply_retention(spark, tier_tables, {"tier10": 15})
    # two post-retention commits push the retention snapshot off the tail
    for i in range(2):
        t10.overwrite(t10.read(spark), run_id=f"merge{i}")
    assert retention_cutoff(t10) == 15
    out = expire_snapshots(t10, keep_last=2)
    assert out["expired"] >= 1
    assert retention_cutoff(t10) == 15


def test_pipeline_enforce_retention_with_lineage(spark, tmp_path):
    """End-to-end: run the stage graph, then age out fine-tier buckets via
    the pipeline method — tier100 persists, lineage logs the commits."""
    from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
    from wotan_spark.spark.retention import RetentionPolicy
    from wotan_spark.spark.synth import synth_sequences

    pipe = Pipeline(spark, str(tmp_path / "tables"),
                    PipelineConfig(method="mean", window_length=17.0))
    seq = synth_sequences(spark, 6, median_len=400, max_len=800)
    pipe.run(seq, run_id="r1")
    t10_before = pipe.tables["tier10"].read(spark).count()
    report = pipe.enforce_retention(
        RetentionPolicy({"tier10": 10, "tier100": None}))
    assert report["tier10"]["dropped"] > 0
    assert pipe.tables["tier10"].read(spark).count() < t10_before
    t10 = pipe.tables["tier10"].read(spark)
    hi = t10.agg(F.max("bucket")).collect()[0][0]
    assert t10.agg(F.min("bucket")).collect()[0][0] == hi - 10 + 1
    lineage = pipe.tables["lineage"].read(spark)
    assert lineage.filter("stage = 'retention-tier10'").count() >= 1
    # one lineage row per data file of the retention snapshot, and the
    # rows column accounts for the whole retained table
    lin_r = lineage.filter("stage = 'retention-tier10'")
    sid = report["tier10"]["snapshot_id"]
    assert lin_r.count() == len(pipe.tables["tier10"].data_files(sid))
    assert (lin_r.agg(F.sum("rows")).collect()[0][0]
            == pipe.tables["tier10"].read(spark).count())


def test_late_data_does_not_resurrect_aged_out_buckets(spark, tmp_path):
    """After a retention commit, an incremental update carrying buckets
    OLDER than the cutoff must not re-insert them (while its fresh
    buckets still merge normally)."""
    from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
    from wotan_spark.spark.retention import RetentionPolicy
    from wotan_spark.spark.synth import synth_sequences

    pipe = Pipeline(spark, str(tmp_path / "tables"),
                    PipelineConfig(method="mean", window_length=17.0))
    pipe.run(synth_sequences(spark, 6, median_len=400, max_len=800),
             run_id="r1")
    pipe.enforce_retention(RetentionPolicy({"tier10": 10}))
    t10 = pipe.tables["tier10"].read(spark)
    cutoff = t10.agg(F.min("bucket")).collect()[0][0]

    # a "late" full-history doc: its early buckets predate the cutoff,
    # its tail reaches past it
    import numpy as np
    from wotan_spark.spark.synth import SEQUENCES_SCHEMA
    toks = np.arange(820, dtype=np.int32) % 1000
    late = spark.createDataFrame(
        [("late_doc", toks.tolist(), 820, "synthetic")],
        schema=SEQUENCES_SCHEMA)
    pipe.update_incremental(late, run_id="late1")
    t10b = pipe.tables["tier10"].read(spark)
    assert t10b.agg(F.min("bucket")).collect()[0][0] >= cutoff
    mine = t10b.filter("doc_id = 'late_doc'")
    # fresh buckets merged; aged-out ones did not resurrect
    assert mine.count() > 0
    assert mine.agg(F.min("bucket")).collect()[0][0] >= cutoff


def test_snapshot_ids_never_reused_after_orphan_reclaim(spark, tmp_path):
    """Expiry deletes manifests; the id allocator must stay monotonic so
    old recorded snapshot ids can never silently rebind to new data."""
    import json
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(1).withColumnRenamed("id", "x"))
    t.overwrite(spark.range(2).withColumnRenamed("id", "x"))
    # a crashed commit: the highest id on disk, HEAD never moved to it
    sid = t._next_sid()
    man = t._write_manifest(
        [t._write_data(spark.range(3).withColumnRenamed("id", "x"))])
    with open(os.path.join(t.manifest_dir, f"snapshot-{sid}.json"),
              "w") as f:
        json.dump({"snapshot_id": sid, "manifest_list": [man],
                   "parent": t.current_snapshot_id(), "meta": {}}, f)
    expire_snapshots(t, keep_last=1, orphan_manifest_grace_sec=0.0)
    assert not os.path.exists(
        os.path.join(t.manifest_dir, f"snapshot-{sid}.json"))
    s_new = t.overwrite(spark.range(4).withColumnRenamed("id", "x"))
    assert s_new > sid                         # never reused


@pytest.mark.parametrize("keep_last", [0, -1])
def test_expire_snapshots_rejects_keep_last_below_one(spark, tmp_path,
                                                      keep_last):
    """``keep_last < 1`` would keep the whole chain (0) or expire only the
    oldest snapshot (-1) and still report success: it is refused, and
    nothing is expired."""
    t = SnapshotTable(str(tmp_path / "t"))
    for n in (1, 2, 3):
        t.overwrite(spark.range(n).withColumnRenamed("id", "x"))
    with pytest.raises(ValueError, match=f"got {keep_last}"):
        expire_snapshots(t, keep_last=keep_last)
    assert len(t.snapshots()) == 3


def test_expiry_spares_in_flight_snapshot(spark, tmp_path):
    """A committing writer publishes snapshot-<sid>.json BEFORE moving
    HEAD; expiry must not reclaim a FRESH unreferenced snapshot (it
    may be that in-flight commit — deleting its data dirs bricks the
    table the moment HEAD lands).  Past the grace window it is reclaimed
    like any orphan."""
    import json
    import os

    from wotan_spark.spark.lakehouse import SnapshotTable
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(1).withColumnRenamed("id", "x"))
    t.overwrite(spark.range(2).withColumnRenamed("id", "x"))
    # simulate the publish window: a snapshot json exists, HEAD not moved
    d = t._write_data(spark.range(3).withColumnRenamed("id", "x"))
    man = t._write_manifest([d])
    sid = 999
    with open(os.path.join(t.manifest_dir, f"snapshot-{sid}.json"),
              "w") as f:
        json.dump({"snapshot_id": sid, "manifest_list": [man],
                   "parent": t.current_snapshot_id(), "meta": {}}, f)
    expire_snapshots(t, keep_last=1)
    assert os.path.exists(
        os.path.join(t.manifest_dir, f"snapshot-{sid}.json"))
    assert os.path.isdir(d)                       # data spared
    # past the grace window the stale orphan is reclaimed
    expire_snapshots(t, keep_last=1, orphan_manifest_grace_sec=0.0)
    assert not os.path.exists(
        os.path.join(t.manifest_dir, f"snapshot-{sid}.json"))
    assert not os.path.isdir(d)


def test_cutoffs_from_policy_starts_no_spark_job(spark, tier_tables,
                                                  tmp_path):
    """With file stats on every data file, the bucket max behind each
    cutoff comes from the stats: no Spark job runs."""
    sc = spark.sparkContext
    group = f"cutoffs-{tmp_path.name}"
    sc.setJobGroup(group, "retention cutoffs")
    try:
        cutoffs = cutoffs_from_policy(
            spark, tier_tables,
            RetentionPolicy({"tier10": 5, "tier100": 1}))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert cutoffs == {"tier10": 15, "tier100": 1}


def _two_dir_tier10(spark, root: str):
    """A pipeline whose tier10 holds 3 docs x buckets 0..19 in two data
    dirs (an overwrite and an append) of two files each."""
    from wotan_spark.spark.pipeline import Pipeline
    pipe = Pipeline(spark, root)
    df = spark.createDataFrame(
        [(f"doc_{i}", b, float(b)) for i in range(3) for b in range(20)],
        "doc_id string, bucket long, y_sum double")
    t10 = pipe.tables["tier10"]
    t10.overwrite(df.filter("bucket < 12").repartition(2), run_id="init")
    t10.append(df.filter("bucket >= 12").repartition(2), run_id="late")
    return pipe


def _maintain(spark, pipe) -> tuple:
    cutoffs = cutoffs_from_policy(
        spark, pipe.tables, RetentionPolicy({"tier10": 5, "tier100": None}))
    report = apply_retention(spark, pipe.tables, cutoffs)
    compacted = pipe.compact_tables(tables=("tier10",), target_file_rows=4)
    return cutoffs, report, compacted


def test_metadata_counts_equal_spark_counts(spark, tmp_path, monkeypatch):
    """Cutoffs, kept/dropped and the compacted file count read from the
    file stats equal those from ``agg(max)``/``count()``: directly, and
    from the same maintenance with the stats helper switched off."""
    pipe = _two_dir_tier10(spark, str(tmp_path / "stats"))
    t10 = pipe.tables["tier10"].read(spark)
    hi = t10.agg(F.max("bucket")).collect()[0][0]
    kept = t10.filter(F.col("bucket") >= hi - 5 + 1).count()
    total = t10.count()
    cutoffs, report, compacted = _maintain(spark, pipe)
    assert cutoffs == {"tier10": hi - 5 + 1} == {"tier10": 15}
    assert (report["tier10"]["kept"], report["tier10"]["dropped"]) \
        == (kept, total - kept) == (15, 45)
    assert compacted["tier10"]["files_after"] == len(
        pipe.tables["tier10"].data_files()) > 1

    counted = _two_dir_tier10(spark, str(tmp_path / "counted"))
    monkeypatch.setattr(SnapshotTable, "stats_summary",
                        lambda self, *a, **k: None)
    assert _maintain(spark, counted) == (cutoffs, report, compacted)


def test_missing_file_stats_fall_back_to_identical_results(spark, tmp_path):
    """One data dir without ``_file_stats.json``: cutoffs and retention
    counts fall back to Spark aggregates and give the same cutoffs and
    reports."""
    pipe = _two_dir_tier10(spark, str(tmp_path / "stats"))
    expected = _maintain(spark, pipe)

    bare = _two_dir_tier10(spark, str(tmp_path / "bare"))
    t10 = bare.tables["tier10"]
    d = t10._manifest(t10.current_snapshot_id())["files"][0]
    os.remove(os.path.join(d, "_file_stats.json"))
    assert t10.stats_summary(column="bucket") is None
    cutoffs, report, compacted = _maintain(spark, bare)
    assert (cutoffs, report) == expected[:2]
    # the unpruned dir feeds the retention rewrite more input files, so
    # only compaction's files_before may differ
    for r in (compacted["tier10"], expected[2]["tier10"]):
        r.pop("files_before")
    assert compacted == expected[2]


def _data_dirs(table: SnapshotTable) -> set:
    return set(os.listdir(os.path.join(table.root, "data")))


def test_second_compaction_is_a_no_op(spark, tmp_path):
    """A HEAD already in the requested layout is not rewritten: the same
    snapshot id, no new data dir, no lineage row.  An append in between
    makes the next compaction rewrite."""
    pipe = _two_dir_tier10(spark, str(tmp_path / "p"))
    t10, lineage = pipe.tables["tier10"], pipe.tables["lineage"]
    first = pipe.compact_tables(tables=("tier10",), target_file_rows=25)
    dirs, n_lineage = _data_dirs(t10), lineage.read(spark).count()
    again = pipe.compact_tables(tables=("tier10",), target_file_rows=25)
    assert again["tier10"]["snapshot_id"] == first["tier10"]["snapshot_id"]
    assert again["tier10"]["files_before"] == again["tier10"]["files_after"]
    assert _data_dirs(t10) == dirs
    assert lineage.read(spark).count() == n_lineage
    # another request is another layout
    other = pipe.compact_tables(tables=("tier10",), target_file_rows=30)
    assert other["tier10"]["snapshot_id"] != first["tier10"]["snapshot_id"]

    t10.append(spark.createDataFrame(
        [("doc_9", 3, 1.0)], "doc_id string, bucket long, y_sum double"))
    sid = t10.current_snapshot_id()
    later = pipe.compact_tables(tables=("tier10",), target_file_rows=30)
    assert later["tier10"]["snapshot_id"] != sid
    assert t10.read(spark).count() == 61
    assert lineage.read(spark).count() > n_lineage


def test_retention_writes_what_compaction_would(spark, tmp_path):
    """After retention + compaction, tier10's HEAD is the retention
    snapshot: one file sorted by bucket holding, as a multiset, the rows
    a forced full compaction of the same table writes."""
    import pyarrow.parquet as pq

    from wotan_spark.spark.lakehouse import TARGET_FILE_ROWS
    pipe = _two_dir_tier10(spark, str(tmp_path / "p"))
    t10 = pipe.tables["tier10"]
    report = pipe.enforce_retention(RetentionPolicy({"tier10": 5}))
    sid = report["tier10"]["snapshot_id"]
    n_lineage = pipe.tables["lineage"].read(spark).count()
    compacted = pipe.compact_tables()
    assert compacted["tier10"]["snapshot_id"] == sid
    assert t10.current_snapshot_id() == sid
    assert pipe.tables["lineage"].read(spark).count() == n_lineage
    (path,) = t10.data_files()
    buckets = pq.read_table(path).column("bucket").to_pylist()
    assert buckets == sorted(buckets) and len(buckets) == 15

    kept = sorted(t10.read(spark).collect())
    forced = t10.compact(spark, target_file_rows=TARGET_FILE_ROWS - 1,
                         cluster_by="bucket")
    assert forced != sid and len(t10.data_files()) == 1
    assert sorted(t10.read(spark).collect()) == kept


def test_layout_stamp_needs_the_file_count_compact_would_choose(
        spark, tmp_path, monkeypatch):
    """Retention sizes its rewrite from the rows of the files its pruned
    scan reads (24 here), an upper bound on the 15 kept rows.  The layout
    stamp is written only when that file count is ceil(kept / target)."""
    from wotan_spark.spark import retention

    for target, stamped in ((10, False), (12, True)):
        pipe = _two_dir_tier10(spark, str(tmp_path / f"t{target}"))
        t10 = pipe.tables["tier10"]
        t10.read(spark, where=("bucket", 15, 1 << 62))
        assert t10.last_scan["rows_read"] == 24
        monkeypatch.setattr(retention, "TARGET_FILE_ROWS", target)
        report = pipe.enforce_retention(RetentionPolicy({"tier10": 5}))
        sid = report["tier10"]["snapshot_id"]
        assert report["tier10"]["kept"] == 15
        assert (-(-24 // target) == -(-15 // target)) is stamped
        meta = t10._manifest(sid)["meta"]
        if stamped:
            assert meta["clustered_by"] == "bucket"
            assert meta["target_file_rows"] == target
        else:
            assert "target_file_rows" not in meta
            assert "clustered_by" not in meta
        again = pipe.compact_tables(tables=("tier10",),
                                    target_file_rows=target)
        assert (again["tier10"]["snapshot_id"] == sid) is stamped
        assert len(t10.data_files()) == 2
        assert t10.read(spark).count() == 15
