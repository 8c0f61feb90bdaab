"""Snapshot-committed parquet tables (miniature Iceberg model).

The target deployment stores tiers as Iceberg tables; this sandbox has no
Iceberg runtime jars, so the engine ships a faithful miniature of the same
snapshot protocol over plain parquet, behind one class that a real Iceberg
catalog could replace 1:1:

* every commit writes data files under ``data/<uuid>/``, wraps the ADDED
  dirs in an immutable manifest file ``_manifests/manifest-<uuid>.json``,
  and atomically publishes ``_manifests/snapshot-<n>.json`` holding a
  MANIFEST LIST (append = parent's manifest names + one new; overwrite =
  one new; merge reuses untouched parent manifests verbatim) plus commit
  metadata — commit metadata is O(delta manifests), not O(total files),
  the real Iceberg snapshot/manifest-list/manifest shape;
* ``HEAD`` (and the ``NEXT_SID`` id counter) is a symlink whose target
  is the decimal snapshot id, swapped by renaming a fresh symlink over
  it -> crash-safe commits, readers never observe partial writes.  A
  short symlink holds its target in the inode, so the swap writes no
  data block and forces no writeback (renaming a data-holding temp file
  over an existing name makes ext4 flush it first, tens of ms per
  commit).  Pointers written as regular files by older versions still
  read;
* a keyed merge (``merge_buckets``) reads its batch's keys with one
  collect and drops the replaced old rows with an in-set filter, not a
  join: a same-schema merge of a persisted batch is two Spark jobs, the
  key collect and the write;
* snapshots are immutable -> time travel (``read(snapshot_id=...)``) and
  checkpoint/resume (a pipeline stage is "done" iff a snapshot with its
  config fingerprint exists);
* scans take their schema from the Spark schema in the data files'
  footers, with no inference job (Iceberg reads it from table metadata);
* compaction stamps its layout and skips a HEAD already stamped with the
  requested one; retention writes and stamps that layout too.

Concurrency model: ONE writer per table at a time (the Hadoop-catalog
Iceberg assumption; a real catalog's atomic compare-and-swap replaces it).
Within that model every publish is crash-safe: manifests are created with
O_EXCL (a duplicate snapshot id aborts instead of clobbering) and HEAD /
NEXT_SID are atomic renames, so concurrent READERS always see a complete
snapshot.  Only ``expire_snapshots``' rewrite of the chain root still
renames a file that holds data, and it is not on the per-commit path.
What the file protocol cannot give two concurrent WRITERS is
serialization.  Run maintenance (expiry, compaction) from the single
writer's schedule, never alongside another writer.
"""

from __future__ import annotations

import bisect
import errno
import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyarrow.lib import ArrowException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampNTZType

# dirs per manifest file for clustered compaction:
# small enough that a merge touching one key range rewrites little
# metadata, large enough that the manifest list stays ~files/16 entries
_MANIFEST_GROUP = 16
# rows per data file that compaction (and retention's rewrite) aims for
TARGET_FILE_ROWS = 1_000_000
# footer key under which Spark's parquet writer stores its schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def delta_fingerprint(df: DataFrame) -> dict:
    """Order-independent content fingerprint of a delta frame (row count +
    summed per-row hash).  ``Pipeline.ingest`` stamps it into the
    sequences fingerprint, so replaying the same input is a no-op and a
    different input re-ingests.  Sum in decimal(38,0): a long sum of
    xxhash64 values overflows under ANSI mode on even small deltas."""
    row = df.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.xxhash64(*df.columns)
              .cast("decimal(38,0)")).alias("h")).first()
    return {"delta_fp_rows": int(row["c"]),
            "delta_fp_hash": str(row["h"]) if row["h"] is not None
            else "0"}


def _not_replaced(keys: list[str], batch_keys: set,
                  schema: StructType) -> "Column":
    """Keep-filter for a merge's old rows: a row survives when any key
    column is null (SQL equality never matches it) or its key struct is
    not among the batch's null-free key tuples, exactly the rows a
    ``left_anti`` join on ``keys`` keeps.  Catalyst plans the membership
    as an ``InSet``: no exchange and no Spark job.  Both sides use
    ``struct``'s positional field names (``col1``, ``col2``, ...) and the
    analyzer widens the literals to the key types, so a tuple costs one
    ``struct`` of literals, not a cast per value."""
    def lit(v, dtype):
        # a naive datetime literal is an instant in the driver's local
        # zone; a TIMESTAMP_NTZ key is a wall clock, which a string cast
        # keeps whatever the driver's and the session's zones are
        if isinstance(dtype, TimestampNTZType):
            return F.lit(v.isoformat()).cast(dtype)
        return F.lit(v)

    types = [schema[k].dataType for k in keys]
    tuples = [F.struct(*map(lit, t, types))
              for t in batch_keys if None not in t]
    if not tuples:
        return F.lit(True)
    row = F.struct(*[F.col(k).alias(f"col{i}")
                     for i, k in enumerate(keys, 1)])
    keep = ~row.isin(*tuples)
    for k in keys:
        keep = keep | F.col(k).isNull()
    return keep


def newest_stamped(table: "SnapshotTable", key: str) -> dict | None:
    """Newest snapshot in the table's HEAD chain whose meta carries
    ``key``.  Index/stage stamps must be resolved this way rather than
    read off HEAD: data-preserving maintenance (compact, merge_buckets,
    retention) commits new snapshots WITHOUT the stamps, and a HEAD-only
    read bricks the consumer after routine maintenance.  Shared by the retention cutoff gates and
    pipeline stage resume (no writer stamps a key with value None, so
    key-presence is the whole test)."""
    return newest_stamped_in(table.snapshots(), key)


def newest_stamped_in(snapshots: list, key: str) -> dict | None:
    """``newest_stamped`` over an already-materialized snapshot chain
    (oldest..newest) — for callers that hold the chain anyway, e.g. the
    expiry scan that must read the cutoff off the FULL chain before
    truncating it."""
    for m in reversed(snapshots):
        if key in m.get("meta", {}):
            return m
    return None


def _swap_pointer(path: str, value: int) -> None:
    """Atomically point ``path`` at ``value``: create a symlink whose
    target is the decimal id and rename it over the old pointer.  The
    rename is journaled with its target and, unlike renaming a temp file
    that holds data, forces no flush."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-ptr-{uuid.uuid4().hex}")
    os.symlink(str(value), tmp)
    os.rename(tmp, path)


def _read_pointer(path: str) -> int | None:
    """The id a pointer holds, ``None`` if it does not exist.  A regular
    file is a pointer written before pointers were symlinks: its content
    is the id."""
    try:
        return int(os.readlink(path))
    except FileNotFoundError:
        return None
    except OSError as e:
        if e.errno != errno.EINVAL:
            raise
    # O_NOFOLLOW: should the first swap replace the old file between the
    # two calls, the open fails (ELOOP) instead of following the new link
    try:
        fd = os.open(path, os.O_RDONLY | os.O_NOFOLLOW)
    except OSError as e:
        if e.errno != errno.ELOOP:
            raise
        return int(os.readlink(path))
    with os.fdopen(fd) as f:
        return int(f.read().strip())


class _LazySnapshot(dict):
    """Snapshot view whose ``files`` key resolves from the manifest list
    on first ``[]`` access.  Meta-only walkers (the snapshot-chain
    traversal behind ``snapshots()`` / ``find_snapshot`` / stage
    fingerprints) read one JSON per snapshot and never open manifest
    files; data readers pay the manifest resolution only when they
    actually ask for the dir list — keeping metadata reads O(1) per
    snapshot, the point of the manifest-list format."""

    def __init__(self, data: dict, resolve):
        super().__init__(data)
        self._resolve = resolve

    def __missing__(self, key):
        if key != "files":
            raise KeyError(key)
        files = self._resolve()
        self["files"] = files
        return files


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)
        # manifest files are immutable once linked into a snapshot, so
        # their contents cache safely for the table handle's lifetime
        self._manifest_cache: dict[str, list[str]] = {}
        # data dirs are immutable too: one footer's Spark schema per dir
        self._footer_cache: dict[str, StructType | None] = {}

    # -- snapshot bookkeeping ------------------------------------------------
    def _head_path(self) -> str:
        return os.path.join(self.manifest_dir, "HEAD")

    def current_snapshot_id(self) -> int | None:
        return _read_pointer(self._head_path())

    def _manifest(self, snapshot_id: int) -> dict:
        """Snapshot dict whose ``files`` view resolves from the manifest
        list LAZILY on first access — callers see the flat data-dir list
        regardless of the on-disk format (new snapshots persist only
        manifest names; pre-manifest snapshots persist ``files``
        directly), but meta-only callers never touch manifest files."""
        m = self._manifest_raw(snapshot_id)
        if "files" in m:
            return m
        names = list(m["manifest_list"])
        return _LazySnapshot(m, lambda: [d for name in names
                                         for d in self._manifest_files(name)])

    def _manifest_raw(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.manifest_dir,
                               f"snapshot-{snapshot_id}.json")) as f:
            return json.load(f)

    def _manifest_files(self, name: str) -> list[str]:
        cached = self._manifest_cache.get(name)
        if cached is None:
            with open(os.path.join(self.manifest_dir, name)) as f:
                cached = json.load(f)["files"]
            self._manifest_cache[name] = cached
        return list(cached)

    def _write_manifest(self, dirs: list[str]) -> str:
        """Persist one immutable manifest file listing ``dirs``; returns
        its basename for inclusion in a snapshot's manifest list."""
        name = f"manifest-{uuid.uuid4().hex}.json"
        tmp = os.path.join(self.manifest_dir,
                           f".tmp-man-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"files": list(dirs)}, f)
        os.rename(tmp, os.path.join(self.manifest_dir, name))
        self._manifest_cache[name] = list(dirs)
        return name

    def _as_manifest_list(self, snapshot_id: int) -> list[str]:
        """A snapshot's manifest names; a pre-manifest snapshot's flat
        file list is wrapped into one manifest on the fly (the one-time
        upgrade path — the wrapper becomes garbage-collectable if never
        committed)."""
        m = self._manifest_raw(snapshot_id)
        if "manifest_list" in m:
            return list(m["manifest_list"])
        return [self._write_manifest(m["files"])]

    def snapshots(self) -> list[dict]:
        head = self.current_snapshot_id()
        out = []
        sid = head
        while sid is not None:
            m = self._manifest(sid)
            out.append(m)
            sid = m.get("parent")
        return list(reversed(out))

    def find_snapshot(self, **meta) -> dict | None:
        """Newest snapshot whose metadata contains all given key/values."""
        for m in reversed(self.snapshots()):
            if all(m.get("meta", {}).get(k) == v for k, v in meta.items()):
                return m
        return None

    # -- commit --------------------------------------------------------------
    def _next_sid(self) -> int:
        """Globally unique, MONOTONIC snapshot id.  Expiry deletes
        manifests (a disk max alone could REUSE a reclaimed id, silently
        rebinding old recorded ids to new snapshots), so a persistent
        counter floors the allocation."""
        counter = os.path.join(self.manifest_dir, "NEXT_SID")
        nxt = _read_pointer(counter) or 0
        mx = -1
        for fn in os.listdir(self.manifest_dir):
            if fn.startswith("snapshot-") and fn.endswith(".json"):
                mx = max(mx, int(fn[len("snapshot-"):-len(".json")]))
        sid = max(nxt, mx + 1)
        _swap_pointer(counter, sid + 1)
        return sid

    def _commit(self, manifests: list[str], meta: dict,
                parent: int | None) -> int:
        """Publish a snapshot referencing ``manifests`` (names returned by
        ``_write_manifest`` / ``_as_manifest_list``).  The snapshot file
        carries manifest NAMES only — O(delta) commit metadata however
        many data files the table holds."""
        sid = self._next_sid()
        # key-presence IS the stamp test (newest_stamped and every
        # consumer of fingerprint/retention_cutoff/index stamps): a
        # None-valued stamp must read as "not stamped", so enforce that
        # here at the single commit seam instead of trusting each writer
        meta = {k: v for k, v in meta.items() if v is not None}
        manifest = {
            "snapshot_id": sid,
            "parent": parent,
            "manifest_list": manifests,
            "committed_at": time.time(),
            "meta": meta,
        }
        # tmp + link(2): atomic for readers (the manifest appears complete
        # or not at all) AND exclusive for writers — if another writer
        # raced _next_sid to the same id, link fails loudly instead of
        # silently clobbering its manifest (the single-writer contract
        # should make this unreachable; this backstop turns a contract
        # violation into an error)
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, os.path.join(self.manifest_dir,
                                      f"snapshot-{sid}.json"))
        finally:
            os.unlink(tmp)
        _swap_pointer(self._head_path(), sid)
        return sid

    def _write_data(self, df: "DataFrame | pa.Table") -> str:
        """Write one fresh data dir.  A Spark frame goes through a Spark
        write job; a driver-held ``pyarrow.Table`` (a few lineage rows)
        is written as one parquet file with no Spark job at all.  Either
        way the dir gets the same stats and schema stamp."""
        d = os.path.join(self.root, "data", uuid.uuid4().hex)
        if isinstance(df, DataFrame):
            df.write.mode("overwrite").parquet(d)
        else:
            os.makedirs(d)
            pq.write_table(df, os.path.join(
                d, f"part-00000-{uuid.uuid4().hex}.parquet"))
        self._write_file_stats(d)
        return d

    def _write_file_stats(self, d: str) -> None:
        """Per-file column min/max stats (the Iceberg manifest-stats model)
        used for scan pruning in ``read(where=...)``."""
        stats: dict[str, dict] = {}
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            meta = pq.read_metadata(os.path.join(d, fn))
            cols: dict[str, list] = {}
            # a row group with missing/undecodable stats must POISON the
            # column's file-level bounds, not merely contribute nothing:
            # partial bounds under-cover the file and pruning on them
            # wrongly drops rows that live in the skipped row group
            bad: set[str] = set()
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        bad.add(name)
                        continue
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            bad.add(name)
                            continue
                    if name in cols:
                        cols[name] = [min(cols[name][0], lo),
                                      max(cols[name][1], hi)]
                    else:
                        cols[name] = [lo, hi]
            for name in bad:
                cols.pop(name, None)
            stats[fn] = {"rows": meta.num_rows, "columns": cols}
        with open(os.path.join(d, "_file_stats.json"), "w") as f:
            json.dump(stats, f, default=str)
        # schema fingerprint for merge_buckets' mixed-dir detection: all
        # files in one dir come from one write job, so one footer speaks
        # for the dir
        first = next((fn for fn in sorted(os.listdir(d))
                      if fn.endswith(".parquet")), None)
        if first is not None:
            sch = pq.read_schema(os.path.join(d, first))
            with open(os.path.join(d, "_schema.json"), "w") as f:
                json.dump([[fld.name, str(fld.type)] for fld in sch], f)

    def _dir_schema(self, d: str) -> tuple | None:
        """Schema fingerprint of one data dir: the ``_schema.json`` stamped
        at write time, or one parquet footer for dirs written before
        stamping.  ``None`` = undeterminable — merge_buckets treats that as
        schema-mixed (conservative full rewrite)."""
        try:
            with open(os.path.join(d, "_schema.json")) as f:
                data = json.load(f)
            # shape-validate: a list of (name, type) string pairs.  Wrong-
            # shape JSON (a dict, bare strings) would otherwise "parse"
            # into a garbage fingerprint instead of falling through.
            if (isinstance(data, list)
                    and all(isinstance(x, list) and len(x) == 2
                            and all(isinstance(s, str) for s in x)
                            for x in data)):
                return tuple(tuple(x) for x in data)
        except (FileNotFoundError, ValueError, TypeError):
            pass
        try:
            fn = next(f for f in sorted(os.listdir(d))
                      if f.endswith(".parquet"))
            return tuple((fld.name, str(fld.type))
                         for fld in pq.read_schema(os.path.join(d, fn)))
        except (OSError, StopIteration, ArrowException):
            # a missing dir or a corrupt footer degrades to the documented
            # None = "undeterminable, conservative full rewrite"; anything
            # else (programming errors) must escape, not silently turn
            # every merge into a full-table rewrite
            return None

    def _footer_schema(self, d: str) -> StructType | None:
        """The schema Spark wrote into the first parquet footer of data
        dir ``d``; ``None`` for a dir written without Spark or a footer
        that cannot be read."""
        if d not in self._footer_cache:
            try:
                fn = next(f for f in sorted(os.listdir(d))
                          if f.endswith(".parquet"))
                kv = pq.read_metadata(os.path.join(d, fn)).metadata or {}
                schema = StructType.fromJson(json.loads(kv[_SPARK_SCHEMA_KEY]))
            except (OSError, StopIteration, KeyError, ValueError, TypeError,
                    ArrowException):
                schema = None
            self._footer_cache[d] = schema
        return self._footer_cache[d]

    def _reader(self, spark: SparkSession, dirs: list[str],
                merge_schema: bool = False):
        """Reader for a scan over ``dirs``, given the dirs' footer schema
        when they all hold the same one (inference without mergeSchema
        reads just that, but in a Spark job).  Otherwise Spark infers, with
        mergeSchema when asked, and reports any broken file itself."""
        found = {self._footer_schema(d) for d in dirs}
        if len(found) == 1 and None not in found:
            return spark.read.schema(found.pop())
        reader = spark.read
        return reader.option("mergeSchema", "true") if merge_schema else reader

    def append(self, df: "DataFrame | pa.Table", **meta) -> int:
        d = self._write_data(df)
        parent = self.current_snapshot_id()
        manifests = (self._as_manifest_list(parent)
                     if parent is not None else [])
        return self._commit(manifests + [self._write_manifest([d])],
                            meta, parent)

    def overwrite(self, df: DataFrame, **meta) -> int:
        d = self._write_data(df)
        return self._commit([self._write_manifest([d])], meta,
                            self.current_snapshot_id())

    def merge_buckets(self, spark: SparkSession, df: DataFrame,
                      keys: list[str], *, key_rows: list | None = None,
                      **meta) -> int:
        """MERGE-INTO-equivalent upsert keyed on ``keys``: new rows replace
        matching rows of the current snapshot (copy-on-write, like Iceberg
        MERGE).

        The batch's keys are read once: one plain ``df.select(*keys)``
        collect brings a key tuple per batch row to the driver, where
        they are deduplicated and give both the pruning bounds and the
        replace set.  A caller that already holds those rows passes them
        as ``key_rows`` and the merge reads no keys at all.  Old rows of
        the rewritten dirs are filtered by an expression, not a join: a
        row survives when any key column is null or its key struct is not
        IN the batch's null-free tuples (Catalyst plans an ``InSet``, no
        exchange, no job), so a same-schema merge over a persisted frame
        runs two Spark jobs, the key collect and the write.  Batch tuples
        with a null field replace nothing, as SQL equality never matches
        a null.

        File-level copy-on-write: a parent data dir is carried into the
        new manifest UNTOUCHED when ANY key column's per-file stats are
        range-disjoint from the incoming rows' range in EVERY file of
        the dir — a match requires equality on every key, so one
        disjoint key column rules the whole dir out.  This is exact,
        not merely conservative.  It engages for time-tail merges
        (late data touches recent ``bucket`` ranges), for new-doc
        batches against ``doc_id``-ordered files, and best after
        ``compact(cluster_by=...)``, which commits one dir per
        range-clustered file; merge cost then tracks the touched
        slice, not the table — the Iceberg MERGE cost model."""
        if self.current_snapshot_id() is None:
            return self.overwrite(df, **meta)
        dirs = self._manifest(self.current_snapshot_id())["files"]
        # pruning keeps old files verbatim, which is only sound when the
        # batch schema MATCHES the stored one (same names + types) AND the
        # stored dirs agree among THEMSELVES — append deliberately never
        # schema-checks (schema evolution is a supported lakehouse
        # write), so a snapshot can hold mixed-schema dirs.  Any
        # disagreement takes the full mergeSchema read + unionByName
        # rewrite, converging the whole table back onto one resolved
        # schema (columns missing on one side null-fill, the Iceberg
        # add-column semantic) instead of silently dropping columns that
        # only some dirs carry.
        fps = {d: self._dir_schema(d) for d in dirs}
        mixed = len(set(fps.values())) > 1 or (
            bool(dirs) and fps[dirs[0]] is None)
        stored = (self._reader(spark, dirs[:1]).parquet(dirs[0]).schema
                  if dirs else df.schema)
        same_schema = (not mixed
                       and {(f.name, f.dataType) for f in stored.fields}
                       == {(f.name, f.dataType) for f in df.schema.fields})
        kept_dirs: list[str] = []
        affected: list[str] = []
        # persist only what WE persist: unconditionally unpersisting
        # would evict a caller-owned cache (Pipeline.merge_changed
        # persists its fine frame across merges + the cascade)
        own_persist = not df.is_cached
        if own_persist:
            df = df.persist()
        try:
            if key_rows is None:
                key_rows = df.select(*keys).collect()
            batch_keys = {tuple(r) for r in key_rows}
            if same_schema:
                bounds = {}
                for i, k in enumerate(keys):
                    vals = [t[i] for t in batch_keys if t[i] is not None]
                    bounds[k] = ((min(vals), max(vals)) if vals
                                 else (None, None))
                empty_batch = all(lo is None for lo, _ in bounds.values())

                def _disjoint(c, lo, hi) -> bool:
                    try:
                        return c[1] < lo or c[0] > hi
                    except TypeError:
                        # stats round-trip through JSON as strings for
                        # date/decimal/... types: incomparable with the
                        # native bound -> cannot PROVE disjoint
                        return False

                def _prunable(stats: dict) -> bool:
                    for k, (lo, hi) in bounds.items():
                        if lo is None:
                            continue
                        disjoint = True
                        for s in stats.values():
                            c = s.get("columns", {}).get(k)
                            if c is None or not _disjoint(c, lo, hi):
                                disjoint = False
                                break
                        if disjoint:
                            return True
                    return False

                for d in dirs:
                    stats = None if empty_batch else self._load_stats(d)
                    if empty_batch or (stats is not None
                                       and _prunable(stats)):
                        kept_dirs.append(d)
                    else:
                        affected.append(d)
            else:
                affected = list(dirs)
            if affected:
                cur = self._reader(spark, affected,
                                   merge_schema=mixed).parquet(*affected)
                remaining = cur.filter(
                    _not_replaced(keys, batch_keys, df.schema))
                # same column set -> exact union (a misnamed batch column
                # still errors loudly); differing sets are schema
                # evolution -> null-fill the missing side
                allow_missing = set(cur.columns) != set(df.columns)
                new_dir = self._write_data(
                    remaining.unionByName(df,
                                          allowMissingColumns=allow_missing))
            else:
                # schemas match exactly (pruning precondition), so the
                # append only needs the stored column ORDER
                new_dir = self._write_data(
                    df.select([f.name for f in stored.fields]))
        finally:
            if own_persist:
                df.unpersist()
        # manifest-level copy-on-write: a parent manifest whose dirs were
        # ALL pruned is reused verbatim (zero metadata rewritten for the
        # untouched slice of the table); kept dirs from partially-affected
        # manifests regroup into one new manifest beside the merged data
        head = self.current_snapshot_id()
        kept_set = set(kept_dirs)
        manifests: list[str] = []
        leftover: list[str] = []
        for name in self._as_manifest_list(head):
            mdirs = self._manifest_files(name)
            if mdirs and all(d in kept_set for d in mdirs):
                manifests.append(name)
            else:
                leftover += [d for d in mdirs if d in kept_set]
        if leftover:
            manifests.append(self._write_manifest(leftover))
        manifests.append(self._write_manifest([new_dir]))
        return self._commit(manifests, meta, head)

    def _zorder_column(self, df: DataFrame, cols: list[str],
                       bits: int = 8) -> tuple["Column", int]:
        """Z-value (Morton code) over 2+ numeric columns, fully JVM-side:
        each column is quantized to ``bits`` equal-width buckets between
        its observed min and max (one agg, driver-side scalars — the
        Delta/Iceberg Z-order model with width buckets standing in for
        range ids), then the bucket bits are interleaved so per-file
        min/max stats stay tight on EVERY clustered dimension at once.
        Equal-width is skew-sensitive where equal-depth range ids are
        not — acceptable for FILE-level pruning, and it keeps the whole
        computation one scan + scalar broadcast with no sampling pass.
        Returns ``(z_column, row_count)`` — the count rides the same agg
        so compact() pays one metadata pass, not two.  ``bits`` shrinks
        so every interleaved bit lands below the sign bit of the long
        z-value (a wider shift would wrap onto the low bits)."""
        bits = min(bits, 63 // len(cols))
        if bits == 0:
            raise ValueError(f"z-order over {len(cols)} columns: at most "
                             "63 fit one 64-bit z-value")
        numeric = {"int", "bigint", "smallint", "tinyint", "float",
                   "double", "decimal", "date", "timestamp",
                   "timestamp_ntz"}
        dtypes = dict(df.dtypes)

        def _as_double(c: str) -> "Column":
            # date -> double casts to NULL in Spark; route via timestamp
            if dtypes[c] == "date":
                return F.col(c).cast("timestamp").cast("double")
            return F.col(c).cast("double")

        for c in cols:
            dt = dtypes.get(c)
            if dt is None:
                raise ValueError(f"z-order column {c!r} not in table")
            if dt.split("(")[0] not in numeric:
                raise ValueError(
                    f"z-order column {c!r} has type {dt}: only numeric/"
                    "date/timestamp columns quantize meaningfully (hash a "
                    "string column into a numeric one first)")
        stats = df.agg(F.count(F.lit(1)).alias("__n"),
                       *[f(_as_double(c)).alias(f"{which}_{c}")
                         for c in cols
                         for which, f in (("min", F.min), ("max", F.max))]
                       ).collect()[0]
        n_buckets = 1 << bits
        z = F.lit(0).cast("long")
        for ci, c in enumerate(cols):
            lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
            if lo is None or hi is None or hi <= lo:
                continue             # constant/all-NULL dim carries 0 bits
            v = _as_double(c)
            bucket = F.least(
                F.lit(n_buckets - 1),
                F.floor((v - F.lit(float(lo)))
                        / F.lit((float(hi) - float(lo)) / n_buckets))
            ).cast("long")
            bucket = F.coalesce(bucket, F.lit(0).cast("long"))  # NULLs low
            for b in range(bits):
                # bit b of this dim lands at interleaved position
                # b * ncols + ci (dims round-robin from the LSB up)
                src, dst = b, b * len(cols) + ci
                z = z.bitwiseOR(F.shiftleft(
                    F.shiftright(bucket, src).bitwiseAND(F.lit(1)), dst))
        return z, int(stats["__n"])

    def compact(self, spark: SparkSession,
                target_file_rows: int = TARGET_FILE_ROWS,
                cluster_by: str | list[str] | None = None, **meta) -> int:
        """Maintenance rewrite (the Iceberg ``rewrite_data_files`` model):
        bin-pack the current snapshot's many small files into
        ``ceil(rows / target_file_rows)`` files, optionally CLUSTERING
        first so the per-file min/max stats become disjoint and
        ``read(where=...)`` prunes to O(1) files per probe.  A single
        ``cluster_by`` column range-clusters (``repartitionByRange`` +
        in-file sort); a LIST of columns Z-ORDERS (Morton-interleaved
        quantized buckets, ``_zorder_column``) so probes on ANY of the
        listed dimensions prune files — the Delta ``OPTIMIZE ZORDER BY`` /
        Iceberg ``rewrite_data_files(strategy=>'sort')`` model.  Data is
        byte-identical as a multiset; history keeps the fragmented
        snapshot time-travelable until ``expire_snapshots``.

        A HEAD stamped with the requested layout (``clustered_by``,
        ``zorder``, ``target_file_rows``) is what this would write: its id
        is returned and nothing is read, written or committed.

        At 100 TB this is the operator that keeps streaming/incremental
        tables healthy: every AvailableNow merge and late-data upsert adds
        a small-file generation, and scan cost is per-FILE as much as
        per-byte (task scheduling, footer reads, stats entries).
        """
        zorder = isinstance(cluster_by, (list, tuple))
        if zorder and len(cluster_by) == 1:
            cluster_by, zorder = cluster_by[0], False
        if zorder and not cluster_by:
            raise ValueError("cluster_by list must name >= 1 column")
        layout = {"clustered_by": ",".join(cluster_by) if zorder
                  else cluster_by,
                  "zorder": True if zorder else None,
                  "target_file_rows": target_file_rows}
        head = self.current_snapshot_id()
        stamped = self._manifest_raw(head) if head is not None else {}
        if all(stamped.get("meta", {}).get(k) == v for k, v in layout.items()):
            return head
        # mergeSchema: append-based schema evolution is a supported write,
        # so a snapshot can hold mixed-schema dirs — a plain read takes one
        # arbitrary footer's schema and the rewrite would silently drop the
        # evolved columns (permanently, once expiry reclaims the old dirs)
        cur = self.read(spark, merge_schema=True)
        if cur is None:
            raise ValueError("nothing to compact")
        if zorder:
            # the z stats agg carries the row count, so the zorder path
            # pays ONE metadata scan, not a count pass plus a stats pass
            order, n_rows = self._zorder_column(cur, list(cluster_by))
        else:
            summary = self.stats_summary()
            n_rows = summary[0] if summary is not None else cur.count()
            order = None if cluster_by is None else F.col(cluster_by)
        n_files = max(1, -(-n_rows // target_file_rows))
        return self._commit_layout(cur, n_files, order, layout,
                                   {"compaction": True, **meta})

    def _commit_layout(self, df: DataFrame, n_files: int,
                       order: "Column | None", layout: dict,
                       meta: dict) -> int:
        """Overwrite with ``df`` in ``n_files`` files as ``compact()``
        writes them: coalesced into one dir when ``order`` is None, else
        range-clustered on ``order`` (one file: a local sort, no exchange)
        and sorted within each file.  ``layout`` is stamped only when
        ``n_files`` is what ``compact()`` would choose for the rows written
        (from the new files' stats): a stamp means "compact() writes this"."""
        if order is None:
            dirs = [self._write_data(df.coalesce(n_files))]
        else:
            packed = (df.coalesce(1) if n_files == 1
                      else df.repartitionByRange(n_files, order))
            # ONE DIR PER FILE: manifest entries are dir-granular, so one
            # monolithic dir would be affected by ANY overlapping
            # merge_buckets and the whole table would rewrite.  The raw
            # write keeps no staging stats: each per-file dir gets its own
            staged = os.path.join(self.root, "data", uuid.uuid4().hex)
            packed.sortWithinPartitions(order).write.mode(
                "overwrite").parquet(staged)
            dirs = []
            for fn in sorted(os.listdir(staged)):
                if not fn.endswith(".parquet"):
                    continue
                nd = os.path.join(self.root, "data", uuid.uuid4().hex)
                os.makedirs(nd)
                os.rename(os.path.join(staged, fn), os.path.join(nd, fn))
                self._write_file_stats(nd)
                dirs.append(nd)
            shutil.rmtree(staged, ignore_errors=True)
        rows = sum(st["rows"] for d in dirs
                   for st in self._load_stats(d).values())
        if n_files == max(1, -(-rows // layout["target_file_rows"])):
            meta = {**meta, **layout}
        # range-adjacent dirs group into manifests of _MANIFEST_GROUP, so
        # a later merge_buckets rewrites only the manifests whose key
        # range it touches while the manifest list stays files/GROUP
        # entries instead of one name per file
        manifests = [self._write_manifest(dirs[i:i + _MANIFEST_GROUP])
                     for i in range(0, len(dirs), _MANIFEST_GROUP)]
        return self._commit(manifests, meta, self.current_snapshot_id())

    # -- read ----------------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             where: tuple | None = None,
             merge_schema: bool = False,
             where_in: tuple | None = None) -> DataFrame | None:
        """Read a snapshot.  ``where=(col, lo, hi)`` prunes whole data files
        whose manifest min/max stats cannot overlap [lo, hi] — the Iceberg
        scan-pruning model — and applies the residual filter (so results are
        exact even where stats were absent).  A LIST of such triples is a
        CONJUNCTION: a file is pruned when ANY clause is provably disjoint
        — on a Z-ordered table (``compact(cluster_by=[x, y])``) a 2-D
        probe then prunes on both dimensions at once, which is the point
        of Z-ordering.  ``where_in=(col, values)`` is the set-membership
        variant: a file is pruned when NO value can fall inside its stats
        range — the point-lookup access pattern (a sample of scattered
        doc ids is not one range, so a [min,max] envelope over the set
        would prune nothing once the ids span the key space).
        ``merge_schema=True`` unions the file schemas (schema-evolution
        reads: columns appended by later commits come back NULL for older
        files)."""
        sid = snapshot_id if snapshot_id is not None \
            else self.current_snapshot_id()
        if sid is None:
            return None
        dirs = self._manifest(sid)["files"]
        if not dirs:
            return None
        reader = self._reader(spark, dirs, merge_schema)
        if where is None and where_in is None:
            return reader.parquet(*dirs)
        if where is not None and where_in is not None:
            raise ValueError("pass where or where_in, not both")
        vals: list = []
        if where is not None:
            if not where:
                raise ValueError("where needs at least one (col, lo, hi) "
                                 "clause")
            clauses = ([tuple(where)] if isinstance(where[0], str)
                       else [tuple(cl) for cl in where])
            for cl in clauses:
                if len(cl) != 3 or not isinstance(cl[0], str):
                    raise ValueError(f"where clause must be "
                                     f"(col, lo, hi), got {cl!r}")
        else:
            col_in, values = where_in
            vals = sorted(set(values))
            if not vals:
                raise ValueError("where_in needs at least one value")
            clauses = [(col_in, None, None)]

        def _outside(c, lo, hi) -> bool:
            try:
                if where is not None:
                    return c[1] < lo or c[0] > hi
                # sorted set: disjoint iff the first value >= file-min
                # does not exist or exceeds file-max
                i = bisect.bisect_left(vals, c[0])
                return i == len(vals) or vals[i] > c[1]
            except TypeError:
                # stats round-trip through JSON as strings for date/
                # decimal/... types: incomparable with the native bound ->
                # cannot PROVE disjoint, keep the file (merge_buckets'
                # _disjoint has the same guard)
                return False

        paths, pruned, rows = [], 0, 0
        for d in dirs:
            stats = self._load_stats(d) or {}
            for fn in sorted(os.listdir(d)):
                if not fn.endswith(".parquet"):
                    continue
                st = stats.get(fn, {})
                cols = st.get("columns", {})
                if any(cols.get(col) is not None
                       and _outside(cols[col], lo, hi)
                       for col, lo, hi in clauses):
                    pruned += 1
                    continue
                paths.append(os.path.join(d, fn))
                rows = (rows + st["rows"] if rows is not None
                        and type(st.get("rows")) is int else None)
        self.last_scan = {"files_read": len(paths), "files_pruned": pruned,
                          "rows_read": rows}
        if not paths:
            # schema only: one dir suffices when Spark infers (over every
            # dir, an empty-result probe would cost an O(table) metadata
            # scan); with merge_schema the union over all dirs IS the
            # contract, so that path keeps the full list
            schema = reader.parquet(
                *(dirs if merge_schema else dirs[:1])).schema
            return spark.createDataFrame([], schema)
        if where is not None:
            residual = F.lit(True)
            for col, lo, hi in clauses:
                residual = residual & F.col(col).between(lo, hi)
        else:
            residual = F.col(clauses[0][0]).isin(vals)
        return reader.parquet(*paths).filter(residual)

    def _load_stats(self, d: str) -> dict | None:
        try:
            with open(os.path.join(d, "_file_stats.json")) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            # absent OR corrupt stats -> no pruning for this dir,
            # never a crash (ValueError covers JSONDecodeError)
            return None

    def stats_summary(self, snapshot_id: int | None = None,
                      column: str | None = None
                      ) -> tuple[int, tuple[int, int] | None] | None:
        """``(rows, bounds)`` of a snapshot (default HEAD) from its data
        dirs' ``_file_stats.json`` alone, with no Spark job: the footer
        row count and, when ``column`` is given, that column's
        ``(min, max)`` (``None`` when no file holds a row; a file without
        rows needs no bounds).  Returns ``None`` when any data file lacks
        its stats or the column's bounds, or a bound is not an int; the
        caller then runs its Spark aggregate instead."""
        rows, lo, hi = 0, None, None
        stats: dict[str, dict] = {}
        for path in self.data_files(snapshot_id):
            d, fn = os.path.split(path)
            if d not in stats:
                stats[d] = self._load_stats(d) or {}
            st = stats[d].get(fn)
            if st is None or type(st.get("rows")) is not int:
                return None
            rows += st["rows"]
            if column is None or not st["rows"]:
                continue
            b = st.get("columns", {}).get(column)
            if b is None or any(type(v) is not int for v in b):
                return None
            lo = b[0] if lo is None else min(lo, b[0])
            hi = b[1] if hi is None else max(hi, b[1])
        return rows, (None if lo is None else (lo, hi))

    def data_files(self, snapshot_id: int | None = None) -> list[str]:
        sid = snapshot_id if snapshot_id is not None \
            else self.current_snapshot_id()
        if sid is None:
            return []
        out = []
        for d in self._manifest(sid)["files"]:
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    out.append(os.path.join(d, fn))
        return out
