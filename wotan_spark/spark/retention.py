"""Retention-policy enforcement + snapshot expiry for the tier tables.

The north-star engine is rollup + downsample + RETENTION: finer tiers age
out while coarser tiers persist (e.g. detrended/raw kept N buckets,
tier-10 kept 10N, tier-100 forever).  Enforcement is a copy-on-write
snapshot commit per table — retention never mutates data files, so every
pre-retention snapshot stays time-travelable until ``expire_snapshots``
reclaims its files (the Iceberg ``expire_snapshots`` model).

At 100 TB the rewrite cost is bounded by what is KEPT, not what is
dropped: the bucket filter is pushed to the snapshot scan (file-stats
pruning skips whole aged-out data files via the manifest min/max on the
bucket column), and the kept rows stream straight into the new snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from wotan_spark.spark.lakehouse import (TARGET_FILE_ROWS, SnapshotTable,
                                         newest_stamped, newest_stamped_in)

# upper bound for the where=(bucket, cutoff, hi) pruned read — any real
# bucket id (token index / factor) sits far below 2^62
_BUCKET_MAX = 1 << 62


@dataclass
class RetentionPolicy:
    """Per-table retention horizon in that table's OWN bucket units
    (``None`` = keep forever).  Example for factor-10 cascading tiers:
    ``{"detrended": 100, "tier10": 1000, "tier100": None}`` keeps the same
    wall-clock span at every tier while the row count drops 10x per
    level."""
    keep_buckets: dict[str, int | None] = field(default_factory=dict)


def cutoffs_from_policy(spark: SparkSession,
                        tables: dict[str, SnapshotTable],
                        policy: RetentionPolicy,
                        bucket_col: str = "bucket") -> dict[str, int]:
    """Translate horizons into absolute cutoffs from each table's current
    max bucket: rows with ``bucket < cutoff`` age out."""
    cutoffs: dict[str, int] = {}
    for name, keep in policy.keep_buckets.items():
        if keep is None or name not in tables:
            continue
        # the file stats' bucket max when every file has it (no Spark
        # job), else one aggregate over the snapshot
        summary = tables[name].stats_summary(column=bucket_col)
        if summary is not None:
            hi = summary[1][1] if summary[1] is not None else None
        else:
            df = tables[name].read(spark)
            if df is None:
                continue
            hi = df.agg(F.max(bucket_col)).collect()[0][0]
        if hi is not None:
            cutoffs[name] = int(hi) - int(keep) + 1
    return cutoffs


def apply_retention(spark: SparkSession,
                    tables: dict[str, SnapshotTable],
                    cutoffs: dict[str, int],
                    bucket_col: str = "bucket",
                    run_id: str = "retention") -> dict[str, dict]:
    """Enforce ``bucket >= cutoff`` per table as one copy-on-write snapshot
    commit each; returns per-table {dropped, kept, snapshot_id}.  Tables
    without a cutoff are untouched; old snapshots remain readable.  The
    kept rows are written in ``compact(cluster_by=bucket_col)``'s layout,
    so a compaction right after finds them stamped and skips them."""
    report: dict[str, dict] = {}
    for name, cutoff in cutoffs.items():
        table = tables[name]
        sid0 = table.current_snapshot_id()
        if sid0 is None:
            continue
        # row counts before and after come from the per-file footer
        # stats (metadata-only), and the kept read goes through where= so
        # file-stats pruning skips wholly-aged-out data files: the one
        # Spark job is the O(kept) rewrite.  A dir without stats falls
        # back to counting.
        before = table.stats_summary(sid0)
        total = (before[0] if before is not None
                 else table.read(spark).count())
        # merge_schema: the rewrite must carry EVERY evolved column —
        # without it Spark takes one arbitrary footer's schema and the
        # overwrite would permanently drop columns appended by later
        # commits (compact() reads the same way for the same reason)
        kept_df = table.read(spark,
                             where=(bucket_col, cutoff, _BUCKET_MAX),
                             merge_schema=True)
        # sized from the rows of the files the pruned scan reads (an upper
        # bound on the kept rows): the stamp holds if both need as many
        scanned = table.last_scan["rows_read"]
        n_files = max(1, -(-(total if scanned is None else scanned)
                           // TARGET_FILE_ROWS))
        sid = table._commit_layout(
            kept_df, n_files, F.col(bucket_col),
            {"clustered_by": bucket_col,
             "target_file_rows": TARGET_FILE_ROWS},
            {"run_id": run_id, "retention_cutoff": cutoff})
        after = table.stats_summary(sid)
        kept = after[0] if after is not None else kept_df.count()
        report[name] = {"dropped": total - kept, "kept": kept,
                        "snapshot_id": sid, "cutoff": cutoff}
    return report


def retention_cutoff(table: SnapshotTable) -> int | None:
    """Newest retention cutoff committed to a table (None if never
    retained) — merge paths gate late data behind this so stragglers
    cannot resurrect aged-out buckets."""
    m = newest_stamped(table, "retention_cutoff")
    return int(m["meta"]["retention_cutoff"]) if m is not None else None


def expire_snapshots(table: SnapshotTable, keep_last: int = 2,
                     orphan_manifest_grace_sec: float = 86400.0) -> dict:
    """Reclaim storage: keep only the newest ``keep_last`` snapshots of the
    parent chain, delete every data directory referenced ONLY by expired
    snapshots, and drop their manifests.  The oldest kept manifest is
    rewritten with ``parent=None`` (history truncation point).  Time travel
    to an expired snapshot is no longer possible — that is the point.
    ``keep_last`` must be at least 1: the HEAD snapshot is never expired."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last!r}")
    head = table.current_snapshot_id()
    if head is None:
        return {"expired": 0, "dirs_deleted": 0, "manifests_deleted": 0}
    chain = table.snapshots()               # oldest .. newest
    # a short chain has nothing to expire from HISTORY, but the orphan
    # scan below must still run — crashed commits would otherwise leak
    # for as long as the chain stays within the keep window
    chain_sids = {m["snapshot_id"] for m in chain}
    kept, old = chain[-keep_last:], chain[:-keep_last]
    expired = list(old)
    # pinned: in-flight orphans inside the grace window
    pinned = []
    now = time.time()
    for fn in os.listdir(table.manifest_dir):
        if not (fn.startswith("snapshot-") and fn.endswith(".json")):
            continue
        sid = int(fn[len("snapshot-"):-len(".json")])
        if sid in chain_sids:
            continue
        # orphan: a snapshot outside the chain is a crashed commit or an
        # IN-FLIGHT one — a committing writer publishes snapshot-<sid>.json
        # BEFORE moving HEAD, and expiring it would delete the data dirs
        # out from under the writer and brick the table the moment HEAD
        # lands.  Only reclaim once far past any write-to-publish window
        # (the manifest GC below waits the same way).
        try:
            age = now - os.path.getmtime(os.path.join(table.manifest_dir, fn))
        except FileNotFoundError:
            continue
        if age < orphan_manifest_grace_sec:
            pinned.append(table._manifest(sid))   # spare this run
        else:
            expired.append(table._manifest(sid))
    kept_dirs = {d for m in kept + pinned for d in m["files"]}
    drop_dirs = {d for m in expired for d in m["files"]} - kept_dirs
    for d in drop_dirs:
        shutil.rmtree(d, ignore_errors=True)
    for m in expired:
        try:
            os.remove(os.path.join(table.manifest_dir,
                                   f"snapshot-{m['snapshot_id']}.json"))
        except FileNotFoundError:
            pass
    # manifest-file GC — same polarity as the data-dir pass above: reclaim
    # manifests REFERENCED BY AN EXPIRED SNAPSHOT (minus any shared with
    # kept/pinned ones, which appends do).  "Delete everything
    # unreferenced" would race an in-flight writer whose freshly written
    # manifest has no published snapshot yet and brick its commit.
    # Never-referenced leftovers (crashed commits, uncommitted legacy
    # wraps) are reclaimed only once older than
    # ``orphan_manifest_grace_sec`` — far past any commit's write-to-
    # publish window, so the dir still cannot leak forever.
    kept_manifests = {name for m in kept + pinned
                      for name in m.get("manifest_list", [])}
    expired_manifests = {name for m in expired
                         for name in m.get("manifest_list", [])}
    dropped_manifests = 0
    for fn in os.listdir(table.manifest_dir):
        if not (fn.startswith("manifest-") and fn.endswith(".json")) \
                or fn in kept_manifests:
            continue
        path = os.path.join(table.manifest_dir, fn)
        if fn not in expired_manifests:
            try:
                if now - os.path.getmtime(path) < orphan_manifest_grace_sec:
                    continue                 # possibly an in-flight commit
            except FileNotFoundError:
                continue
        try:
            os.remove(path)
            table._manifest_cache.pop(fn, None)
            dropped_manifests += 1
        except FileNotFoundError:
            pass
    # truncate history: the oldest kept snapshot becomes the chain root.
    # The newest retention_cutoff of the FULL chain is carried into the
    # rewritten root — otherwise expiring the snapshot that recorded it
    # would return retention_cutoff() to None and silently disarm the
    # late-data gates (exactly the hazard they exist to prevent).  A newer
    # kept snapshot with its own cutoff still wins, since
    # retention_cutoff() walks newest-first.
    if not old:
        # nothing expired from history: leave the chain root untouched
        # (an unconditional rewrite would stamp history_expired on a
        # table whose history is fully intact)
        return {"expired": len(expired), "dirs_deleted": len(drop_dirs),
                "manifests_deleted": dropped_manifests}
    stamped = newest_stamped_in(chain, "retention_cutoff")
    newest_cutoff = (int(stamped["meta"]["retention_cutoff"])
                     if stamped is not None else None)
    oldest = dict(kept[0])
    oldest["parent"] = None
    oldest["meta"] = dict(oldest.get("meta") or {})
    oldest["meta"]["history_expired"] = True
    if newest_cutoff is not None:
        oldest["meta"]["retention_cutoff"] = newest_cutoff
    if "manifest_list" in oldest:
        # the in-memory view resolves "files" from the manifest list; the
        # on-disk snapshot stays canonical (manifest names only) or the
        # rewrite would silently regress the root to O(files) metadata
        oldest.pop("files", None)
    path = os.path.join(table.manifest_dir,
                        f"snapshot-{oldest['snapshot_id']}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(oldest, f)
    os.replace(tmp, path)
    return {"expired": len(expired), "dirs_deleted": len(drop_dirs),
            "manifests_deleted": dropped_manifests}
