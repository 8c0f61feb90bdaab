"""Manifest-list commits (round-5 verdict item 3): snapshots reference
immutable manifest files instead of embedding whole file sets, so commit
metadata is O(delta) like real Iceberg — the snapshot/manifest-list/
manifest shape — while every read/prune/time-travel API is unchanged."""

from __future__ import annotations

import json
import os

import pytest

from wotan_spark.spark.lakehouse import SnapshotTable
from wotan_spark.spark.retention import expire_snapshots


def _snapshot_bytes(t: SnapshotTable, sid: int) -> int:
    """Size of a snapshot file with its commit time written as one fixed
    value: the width of a float timestamp's repr varies by several bytes
    from commit to commit and says nothing about metadata growth."""
    with open(os.path.join(t.manifest_dir, f"snapshot-{sid}.json")) as f:
        m = json.load(f)
    return len(json.dumps({**m, "committed_at": 0.0}))


def _mk(spark, tmp_path, name="t"):
    return SnapshotTable(str(tmp_path / name)), \
        lambda lo, hi: spark.range(lo, hi).selectExpr(
            "id", "id * 2 as v")


def test_commit_metadata_flat_in_appended_batches(spark, tmp_path):
    """The done criterion: per-append snapshot metadata does not grow
    with the number of files already in the table.  Each append adds ONE
    manifest name (~50 bytes) however many batches came before — under
    the old embedded-file-set model snapshot N was O(N) and this
    assertion fails by construction."""
    t, df = _mk(spark, tmp_path)
    sids, sizes = [], []
    for i in range(12):
        sids.append(t.append(df(i * 10, i * 10 + 10), batch=i))
        sizes.append(_snapshot_bytes(t, sids[-1]))
    deltas = [b - a for a, b in zip(sizes, sizes[1:])]
    # growth per commit is one manifest-name entry, independent of i
    assert max(deltas) - min(deltas) <= 8, (sizes, deltas)
    assert max(deltas) < 80, deltas
    # raw on-disk snapshots carry manifest names only, never file sets
    raw = t._manifest_raw(sids[-1])
    assert "files" not in raw and len(raw["manifest_list"]) == 12
    # the resolved view still exposes the flat dir list, in append order
    resolved = t._manifest(sids[-1])["files"]
    assert len(resolved) == 12
    assert t.read(spark).count() == 120


def test_reads_time_travel_and_pruning_unchanged(spark, tmp_path):
    t, df = _mk(spark, tmp_path)
    s0 = t.append(df(0, 10))
    t.append(df(10, 20))
    assert t.read(spark).count() == 20
    assert t.read(spark, snapshot_id=s0).count() == 10
    got = t.read(spark, where=("id", 0, 9))
    assert got.count() == 10
    assert t.last_scan["files_pruned"] > 0


def test_merge_reuses_untouched_manifests_verbatim(spark, tmp_path):
    """Manifest-level copy-on-write: a merge touching one batch's key
    range carries every other manifest by NAME — zero metadata rewritten
    for the untouched slice."""
    t, df = _mk(spark, tmp_path)
    for i in range(6):
        t.append(df(i * 10, i * 10 + 10), batch=i)
    before = t._manifest_raw(t.current_snapshot_id())["manifest_list"]
    hot = spark.range(55, 60).selectExpr("id", "id * 3 as v")
    t.merge_buckets(spark, hot, keys=["id"])
    after = t._manifest_raw(t.current_snapshot_id())["manifest_list"]
    # five of six parent manifests reused by name; only the touched
    # batch's manifest is replaced (plus the new data's manifest)
    assert len(set(before) & set(after)) == 5
    assert len(after) == 6
    rows = {r.id: r.v for r in t.read(spark).collect()}
    assert len(rows) == 60 and rows[55] == 165 and rows[54] == 108


def test_legacy_embedded_fileset_snapshots_still_work(spark, tmp_path):
    """Pre-manifest tables (snapshots with an embedded "files" list)
    read, append, merge and expire through the new code: the first
    commit wraps the legacy file set into a manifest on the fly."""
    t, df = _mk(spark, tmp_path)
    s0 = t.append(df(0, 10))
    # rewrite snapshot 0 into the legacy on-disk format
    path = os.path.join(t.manifest_dir, f"snapshot-{s0}.json")
    with open(path) as f:
        m = json.load(f)
    m["files"] = [d for name in m.pop("manifest_list")
                  for d in t._manifest_files(name)]
    with open(path, "w") as f:
        json.dump(m, f)
    t2 = SnapshotTable(t.root)            # fresh handle, no cache
    assert t2.read(spark).count() == 10
    s1 = t2.append(df(10, 20))
    raw = t2._manifest_raw(s1)
    assert "files" not in raw and len(raw["manifest_list"]) == 2
    assert t2.read(spark).count() == 20
    assert t2.read(spark, snapshot_id=s0).count() == 10


def test_expiry_reclaims_unreferenced_manifests(spark, tmp_path):
    """Append-shared manifests survive expiry (the kept head references
    them); manifests stranded by an overwrite are garbage-collected with
    their snapshots."""
    t, df = _mk(spark, tmp_path)
    for i in range(4):
        t.append(df(i * 10, i * 10 + 10))
    t.overwrite(df(0, 60))               # strands the 4 append manifests
    t.append(df(60, 70))

    def manifest_files():
        return {fn for fn in os.listdir(t.manifest_dir)
                if fn.startswith("manifest-")}
    n_before = len(manifest_files())
    out = expire_snapshots(t, keep_last=2)
    assert out["expired"] == 4
    assert out["manifests_deleted"] >= 4
    live = {name for sid in [m["snapshot_id"] for m in t.snapshots()]
            for name in t._manifest_raw(sid)["manifest_list"]}
    assert manifest_files() == live
    assert len(manifest_files()) < n_before
    assert t.read(spark).count() == 70


def test_expiry_spares_in_flight_writer_manifest(spark, tmp_path):
    """Manifest GC has the same polarity as the data-dir pass: it
    reclaims manifests referenced by EXPIRED snapshots, never a freshly
    written manifest whose commit has not published yet — deleting that
    would brick the in-flight commit (its snapshot would point at a
    missing file forever)."""
    t, df = _mk(spark, tmp_path)
    for i in range(4):
        t.append(df(i * 10, i * 10 + 10))
    # an in-flight writer: manifest written, snapshot not yet committed
    staged = t._write_manifest([t._write_data(df(100, 110))])
    out = expire_snapshots(t, keep_last=2)
    assert out["expired"] == 2
    assert os.path.exists(os.path.join(t.manifest_dir, staged)), \
        "GC deleted an in-flight commit's manifest"
    # the writer can still publish and the table reads clean
    sid = t._commit(t._as_manifest_list(t.current_snapshot_id())
                    + [staged], {"op": "late-append"}, t.current_snapshot_id())
    assert t.read(spark, snapshot_id=sid).count() == 50

    # ...but a STALE never-referenced manifest (crashed commit) is still
    # reclaimed once past the grace window
    stale = t._write_manifest([t._write_data(df(200, 210))])
    stale_path = os.path.join(t.manifest_dir, stale)
    os.utime(stale_path, (1, 1))
    expire_snapshots(t, keep_last=1)
    assert not os.path.exists(stale_path)


def test_expire_snapshots_noop_result_shape(spark, tmp_path):
    """The no-op early returns carry the same keys as the success path."""
    t, df = _mk(spark, tmp_path)
    want = {"expired": 0, "dirs_deleted": 0, "manifests_deleted": 0}
    assert expire_snapshots(t, keep_last=2) == want     # empty table
    t.append(df(0, 10))
    assert expire_snapshots(t, keep_last=2) == want     # within keep window


def test_meta_walkers_never_open_manifest_files(spark, tmp_path):
    """snapshots()/find_snapshot resolve ``files`` lazily: a fresh handle
    walking the chain for metadata reads one JSON per snapshot and ZERO
    manifest files — the O(1)-metadata point of the manifest-list format."""
    t, df = _mk(spark, tmp_path)
    for i in range(6):
        t.append(df(i * 10, i * 10 + 10), batch=i)
    fresh = SnapshotTable(t.root)

    def boom(name):
        raise AssertionError(f"meta walk opened manifest file {name}")
    fresh._manifest_files = boom
    assert len(fresh.snapshots()) == 6
    assert fresh.find_snapshot(batch=3) is not None
    # a data read DOES resolve the manifest list
    fresh2 = SnapshotTable(t.root)
    assert fresh2.read(spark).count() == 60


def test_where_in_set_pruning(spark, tmp_path):
    """Set-membership scan pruning (the IVF posting-list access pattern):
    a scattered value set prunes every file whose stats range holds none
    of the values — where a [min,max] envelope over the same set would
    keep nearly everything — and the residual isin keeps results exact."""
    t, df = _mk(spark, tmp_path)
    for i in range(4):
        t.append(df(i * 10, i * 10 + 10), batch=i)
    got = t.read(spark, where_in=("id", [5, 35, 35]))
    rows = {r.id for r in got.collect()}
    assert rows == {5, 35}
    assert t.last_scan["files_pruned"] > 0
    # the envelope [5, 35] spans batches 1 and 2 entirely; the set must
    # prune MORE than the range read does
    t.read(spark, where=("id", 5, 35))
    range_read = t.last_scan["files_read"]
    t.read(spark, where_in=("id", [5, 35]))
    assert t.last_scan["files_read"] < range_read
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, where=("id", 0, 1), where_in=("id", [2]))
    with pytest.raises(ValueError, match="at least one"):
        t.read(spark, where_in=("id", []))


def test_where_in_and_zorder_edge_cases(spark, tmp_path):
    """Edges of the round-5e pruning additions: stringly stats make a
    file unprunable but results stay exact (TypeError guard); a constant
    dimension contributes zero z-bits without breaking the rewrite; a
    conjunction clause naming a column with no stats keeps the file; an
    empty ``where`` list and an over-wide z-order fail or degrade by name,
    not by IndexError or a wrapped shift."""
    import pyspark.sql.functions as F

    # string-typed column: stats exist but where_in values are ints ->
    # incomparable -> file kept, residual isin still exact
    t = SnapshotTable(str(tmp_path / "ts"))
    t.append(spark.createDataFrame(
        [(f"k{i:02d}", i) for i in range(20)], "k string, v int"))
    got = t.read(spark, where_in=("k", ["k03", "k17"]))
    assert {r.k for r in got.collect()} == {"k03", "k17"}
    # int values against string stats: kept (cannot prove disjoint)
    got = t.read(spark, where_in=("v", [3, 17]))
    assert {r.v for r in got.collect()} == {3, 17}

    # constant dimension in a z-order: carries zero bits, rewrite exact
    tz = SnapshotTable(str(tmp_path / "tz"))
    rows = [(x, 7, float(x)) for x in range(400)]
    tz.append(spark.createDataFrame(rows, "x int, c int, v double"))
    tz.compact(spark, target_file_rows=100, cluster_by=["x", "c"])
    assert tz.read(spark).count() == 400
    # x still prunes (it got all the bits)
    tz.read(spark, where=("x", 0, 49))
    assert tz.last_scan["files_pruned"] > 0
    # conjunction with an absent-stats column: file kept, result exact
    got = tz.read(spark, where=[("x", 0, 49), ("c", 7, 7)])
    assert got.count() == 50
    # an empty clause list is a named error, not an IndexError
    with pytest.raises(ValueError, match="at least one"):
        tz.read(spark, where=[])

    # more dimensions than 8 bits each fit in a long: bits scale down
    # instead of wrapping the Morton shift, so z stays non-negative and
    # monotone along the diagonal
    cols = [f"d{i}" for i in range(9)]
    wide = spark.range(400).select(
        *[F.col("id").cast("int").alias(c) for c in cols])
    z, n = tz._zorder_column(wide, cols)
    zs = [r.z for r in wide.select("d0", z.alias("z")).orderBy("d0")
          .collect()]
    assert n == 400 and min(zs) >= 0 and zs == sorted(zs)
    with pytest.raises(ValueError, match="at most 63"):
        tz._zorder_column(wide.select(*(F.col("d0").alias(f"e{i}")
                                        for i in range(64))),
                          [f"e{i}" for i in range(64)])


def _jobs_started(spark, group: str, build) -> list:
    """Spark job ids started while ``build()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "scan planning")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_scans_over_uniform_dirs_start_no_spark_job(spark, tmp_path):
    """Every dir's footer holds the same Spark schema string, so building
    a read frame (plain, where, where_in, an empty where, merge_schema)
    starts no schema-inference job, and neither does merge_buckets up to
    its first action."""
    t, rows = _mk(spark, tmp_path)
    t.overwrite(rows(0, 50).repartition(2))
    t.append(rows(50, 100))
    dirs = t._manifest(t.current_snapshot_id())["files"]
    inferred = spark.read.parquet(*dirs).schema
    frames = {}

    def build():
        frames["plain"] = t.read(spark)
        frames["where"] = t.read(spark, where=("id", 10, 20))
        frames["where_in"] = t.read(spark, where_in=("id", [3, 70]))
        frames["empty"] = t.read(spark, where=("id", 500, 600))
        frames["merge_schema"] = t.read(spark, merge_schema=True)

    assert _jobs_started(spark, f"reads-{tmp_path.name}", build) == []
    assert all(f.schema == inferred for f in frames.values())
    assert frames["where"].count() == 11
    assert frames["where_in"].count() == 2
    assert frames["empty"].count() == 0

    class Stop(Exception):
        pass

    batch = spark.createDataFrame([(7, 0)], "id long, v long")

    def persist(*a, **k):
        raise Stop

    def merge():
        with pytest.raises(Stop):
            t.merge_buckets(spark, batch, keys=["id"])

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(batch), "persist", persist)
        assert _jobs_started(spark, f"merge-{tmp_path.name}", merge) == []


def test_scans_over_many_dirs_start_no_listing_job(spark, tmp_path):
    """Past Spark's default of 32 paths a scan lists its files in a
    distributed job; engine sessions raise that threshold, so a read over
    33 or 40 appended dirs, plain or with ``where``, starts no job."""
    t, rows = _mk(spark, tmp_path)
    for i in range(40):
        t.append(rows(i, i + 1))
        n_dirs = i + 1
        if n_dirs not in (33, 40):
            continue
        assert len(t._manifest(t.current_snapshot_id())["files"]) == n_dirs
        frames = {}

        def build():
            frames["plain"] = t.read(spark)
            frames["where"] = t.read(spark, where=("id", 0, 10 ** 6))

        group = f"listing-{n_dirs}-{tmp_path.name}"
        assert _jobs_started(spark, group, build) == [], n_dirs
        assert frames["plain"].count() == n_dirs
        assert frames["where"].count() == n_dirs


def test_scan_schema_falls_back_to_inference(spark, tmp_path):
    """Dirs whose footers disagree (schema evolution), a dir written
    without Spark, or a footer that cannot be read: the scan infers its
    schema as Spark does, and an unreadable file still fails in Spark."""
    import pyarrow as pa

    t, rows = _mk(spark, tmp_path)
    t.overwrite(rows(0, 5))
    t.append(rows(5, 10).selectExpr("*", "'x' as tag"))
    dirs = t._manifest(t.current_snapshot_id())["files"]
    assert len({t._footer_schema(d) for d in dirs}) == 2
    assert t.read(spark, merge_schema=True).schema == (
        spark.read.option("mergeSchema", "true").parquet(*dirs).schema)
    assert t.read(spark).schema == spark.read.parquet(*dirs).schema

    lin = SnapshotTable(str(tmp_path / "arrow"))
    lin.append(pa.table({"id": pa.array([1, 2], pa.int64())}))
    (d,) = lin._manifest(lin.current_snapshot_id())["files"]
    assert lin._footer_schema(d) is None
    assert lin.read(spark).schema == spark.read.parquet(d).schema
    assert lin.read(spark).count() == 2

    bad, _ = _mk(spark, tmp_path, "bad")
    bad.overwrite(rows(0, 5))
    (d,) = bad._manifest(bad.current_snapshot_id())["files"]
    for fn in os.listdir(d):
        if fn.endswith(".parquet"):
            with open(os.path.join(d, fn), "wb") as f:
                f.write(b"not parquet at all")
    assert bad._footer_schema(d) is None
    with pytest.raises(Exception, match="parquet|Parquet|stage failure"):
        bad.read(spark).collect()
