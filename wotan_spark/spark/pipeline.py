"""End-to-end rollup+detrend pipeline: checkpointed stages, lineage metrics.

Stage graph (each stage commits one snapshot table and its lineage rows):

    sequences ──detrend (packed, no shuffle)──> detrended
    detrended ──tier10 rollup (packed)────────> tier10
    tier10    ──cascade groupBy───────────────> tier100
    detrended ──gorilla blocks (packed)───────> blocks
    sequences ──fixed-context packing─────────> chunks   (optional,
                when ``pack_context_len`` is set; stage-local fingerprint)

Resume: every stage snapshot carries a config fingerprint
(method/params/run scope).  ``run_pipeline`` skips stages whose snapshot
with the current fingerprint already exists — killing the job between
stages and re-running completes the remainder and yields identical tables
(tested).

Lineage (north-rule metrics contract): one row per written data file:
(partition_id, input_snapshot, rows, checksum, wall_time_s, run_id, stage).
Row counts/checksums come from the parquet footers — metadata-only, no
second scan of the data.  Every stage, merge, retention and compaction
commit appends its rows as ONE parquet file written from the driver with
pyarrow (no Spark job), in the format pinned by ``LINEAGE_SCHEMA``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from wotan_spark.spark.blocks import encode_blocks
from wotan_spark.spark.detrend_op import (AUTO_CHUNK_THRESHOLD,
                                          detrend_rollup_fused,
                                          detrend_sequences)
from wotan_spark.spark.lakehouse import (TARGET_FILE_ROWS, SnapshotTable,
                                         newest_stamped)
from wotan_spark.spark.rollup import cascade_tier, rollup_tier10


@dataclass
class PipelineConfig:
    method: str = "biweight"
    window_length: float = 17.0
    params: dict = field(default_factory=dict)
    tier_factor: int = 10
    block_size: int = 4096
    # Reliable checkpoint directory for iterative operators invoked under
    # this pipeline (dedup_components label propagation): when set, the
    # session's checkpoint dir is configured at pipeline construction so
    # every per-round lineage cut uses fault-tolerant ``checkpoint()``
    # (executor-loss-safe — the at-scale default: point it at HDFS/S3).
    # When None, iterative operators keep ``localCheckpoint()``, which is
    # the honest single-node choice for local runs.  Execution knob only:
    # deliberately excluded from fingerprint() so setting it never
    # invalidates resumable stage snapshots.
    checkpoint_dir: str | None = None
    # Optional fixed-context packing stage: when set, the raw sequences
    # are also packed into training chunks of this length (see
    # packing.pack_sequences) and committed as the ``chunks`` table.
    # Fingerprinted per-stage (not in fingerprint()) so toggling packing
    # never invalidates the detrend/rollup stage snapshots.
    pack_context_len: int | None = None
    pack_eod_token: int | None = None
    # Optional mergeable-sketch tiers next to the stats tiers, built from
    # the raw sequences and maintained by the same merge/retention
    # machinery: ``sketch_bins`` enables fixed-bin histogram tables
    # (hist10 + hist100 by exact additive cascade), ``sketch_distinct``
    # enables HLL distinct-count tables (distinct10 + distinct100 by
    # exact union cascade), ``sketch_topk`` enables frequent-items
    # tables (topk10 + topk100 by sketch merge).  Fingerprinted
    # per-family so toggling one family never invalidates another or
    # the detrend/rollup snapshots.
    sketch_bins: int | None = None
    sketch_lo: float = 0.99
    sketch_hi: float = 1.01
    sketch_distinct: bool = False
    sketch_lgk: int = 12
    sketch_topk: bool = False
    sketch_max_items: int = 1024
    # Optional per-series periodogram tier: when set, the ``top_k``
    # dominant Lomb-Scargle periods per sequence are committed as the
    # ``periods`` table (periodogram.dominant_periods) — a per-series
    # scalar signal exactly like the tier stats, maintained by the same
    # merge machinery.  Fingerprinted per-stage so toggling it never
    # invalidates the detrend/rollup/sketch snapshots.
    periodogram_topk: int | None = None
    periodogram_freqs: int | None = None

    def sketch_fingerprint(self, family: str) -> str:
        """Per-FAMILY fingerprint: enabling/tuning one sketch family must
        never invalidate the other family's committed tables."""
        if family == "hist":
            blob = {"bins": self.sketch_bins, "lo": self.sketch_lo,
                    "hi": self.sketch_hi, "tier_factor": self.tier_factor}
        elif family == "distinct":
            blob = {"lgk": self.sketch_lgk,
                    "tier_factor": self.tier_factor}
        elif family == "topk":
            blob = {"max_items": self.sketch_max_items,
                    "tier_factor": self.tier_factor}
        else:
            raise ValueError(f"unknown sketch family {family!r}")
        return f"sk-{family}-" + hashlib.md5(
            json.dumps(blob, sort_keys=True).encode()).hexdigest()[:16]

    def pack_fingerprint(self) -> str:
        blob = json.dumps({"context_len": self.pack_context_len,
                           "eod": self.pack_eod_token}, sort_keys=True)
        return "pack-" + hashlib.md5(blob.encode()).hexdigest()[:16]

    def period_fingerprint(self) -> str:
        blob = json.dumps({"topk": self.periodogram_topk,
                           "freqs": self.periodogram_freqs},
                          sort_keys=True)
        return "per-" + hashlib.md5(blob.encode()).hexdigest()[:16]

    def fingerprint(self) -> str:
        blob = json.dumps({
            "method": self.method, "window_length": self.window_length,
            "params": self.params, "tier_factor": self.tier_factor,
            "block_size": self.block_size,
        }, sort_keys=True)
        return hashlib.md5(blob.encode()).hexdigest()[:16]


# one lineage row's format: exactly the schema Spark inferred from the
# row dicts when lineage rows went through a Spark write (sorted names,
# long ints, double wall time), so a table holding dirs written either
# way reads back, merges and compacts as one schema
LINEAGE_SCHEMA = pa.schema([
    ("checksum", pa.string()),
    ("input_snapshot", pa.int64()),
    ("partition_id", pa.int64()),
    ("rows", pa.int64()),
    ("run_id", pa.string()),
    ("stage", pa.string()),
    ("wall_time_s", pa.float64()),
])


class Pipeline:
    def __init__(self, spark: SparkSession, root: str,
                 config: PipelineConfig | None = None):
        self.spark = spark
        self.root = root
        self.config = config or PipelineConfig()
        if self.config.checkpoint_dir:
            spark.sparkContext.setCheckpointDir(self.config.checkpoint_dir)
        self.tables = {
            name: SnapshotTable(os.path.join(root, name))
            for name in ("sequences", "detrended", "tier10", "tier100",
                         "hist10", "hist100", "distinct10", "distinct100",
                         "topk10", "topk100", "periods",
                         "blocks", "chunks", "lineage")
        }

    # ------------------------------------------------------------------
    def _stage_done(self, name: str, fingerprint: str) -> bool:
        """Done iff the NEWEST config-stamped snapshot carries the current
        fingerprint.  Matching any snapshot in history would make a config
        switch-back (A -> B -> A) skip recompute while HEAD still serves
        B's data.  Maintenance commits (compaction, retention) carry no
        ``fingerprint`` key and are transparent to resume; incremental
        tier merges stamp the config fingerprint and so keep a maintained
        table 'done'."""
        m = newest_stamped(self.tables[name], "fingerprint")
        return m is not None and m["meta"]["fingerprint"] == fingerprint

    def _commit_stage(self, name: str, df: DataFrame, fingerprint: str,
                      input_snapshot, run_id: str, t_start: float) -> int:
        sid = self.tables[name].overwrite(df, fingerprint=fingerprint,
                                          run_id=run_id)
        self._log_lineage(name, sid, input_snapshot, run_id, name,
                          time.time() - t_start)
        return sid

    def _log_lineage(self, name: str, snapshot_id: int, input_snapshot,
                     run_id: str, stage: str, wall_time_s: float) -> None:
        """Append one lineage row per data file of ``snapshot_id`` of
        table ``name``.  Rows and checksums come from the files' footers
        and heads, and the rows are written from the driver as one parquet
        file: a handful of rows costs no Spark job."""
        rows = []
        for i, path in enumerate(
                self.tables[name].data_files(snapshot_id)):
            with open(path, "rb") as f:
                head = f.read(65536)
            rows.append({
                "partition_id": i,
                "input_snapshot": (int(input_snapshot)
                                   if input_snapshot is not None else -1),
                "rows": int(pq.read_metadata(path).num_rows),
                "checksum": hashlib.md5(head).hexdigest(),
                "wall_time_s": float(wall_time_s),
                "run_id": run_id,
                "stage": stage,
            })
        if rows:
            self.tables["lineage"].append(
                pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA),
                stage=stage, run_id=run_id)

    def _chunk_threshold(self, seq_sid) -> int | None:
        """The skew router's threshold for snapshot ``seq_sid`` of the
        sequences table: ``None`` (no long branch: no ``n_tok`` filter,
        chunk split or exchange) only when every data file's ``n_tok``
        max in ``_file_stats.json`` is <= ``AUTO_CHUNK_THRESHOLD``; a
        missing stat keeps routing."""
        summary = self.tables["sequences"].stats_summary(seq_sid, "n_tok")
        if summary is None or (summary[1] is not None
                               and summary[1][1] > AUTO_CHUNK_THRESHOLD):
            return AUTO_CHUNK_THRESHOLD
        return None

    # ------------------------------------------------------------------
    def ingest(self, sequences: DataFrame, run_id: str) -> int:
        """Idempotent base-corpus ingest: the stage fingerprint is the
        INPUT CONTENT (order-independent row count + hash), so replaying
        the same frame is a no-op while a DIFFERENT frame re-ingests
        (overwrite) and, through ``_base_fp``, invalidates every
        downstream stage.  The old constant fingerprint silently
        DISCARDED new data on re-run.  Note a re-ingest replaces the
        whole sequences table, including batches landed by
        ``update_incremental`` — it means "rebuild over this base
        corpus".  Costs one aggregate scan of the input per call."""
        from wotan_spark.spark.lakehouse import delta_fingerprint
        d = delta_fingerprint(sequences)
        fp = f"input-r{d['delta_fp_rows']}-h{d['delta_fp_hash']}"
        if self._stage_done("sequences", fp):
            return self.tables["sequences"].current_snapshot_id()
        t0 = time.time()
        return self._commit_stage("sequences", sequences, fp, None, run_id, t0)

    def _base_fp(self) -> str:
        """The sequences table's newest ingest fingerprint (incremental
        appends/merges carry no ``fingerprint`` key, so this is stable
        across maintenance and changes exactly when the BASE corpus
        does).  Stamped into the maintained stages' fingerprints: a
        maintained table stays 'done' across incremental growth but goes
        stale — and rebuilds — when the base corpus is re-ingested."""
        rec = newest_stamped(self.tables["sequences"], "fingerprint")
        return rec["meta"]["fingerprint"] if rec is not None else "input"

    def _maintained_fp(self, family_fp: str) -> str:
        """Fingerprint for MERGE-maintained stages (tiers, sketches,
        periods): config identity + base-corpus identity.  Incremental
        merges re-stamp it (staying 'done'); a base re-ingest changes it
        (full rebuild)."""
        return f"{family_fp}-{self._base_fp()}"

    def run(self, sequences: DataFrame | None = None,
            run_id: str | None = None, stop_after: str | None = None) -> dict:
        """Run (or resume) all stages; returns stage -> snapshot id."""
        run_id = run_id or f"run-{int(time.time())}"
        cfg = self.config
        fp = cfg.fingerprint()
        out: dict[str, int] = {}

        if stop_after is not None and stop_after not in (
                "chunks", "detrended", "tier10", "tier100", "sketches",
                "periods", "blocks"):
            # an unknown name silently matched NO return point and ran the
            # whole pipeline — fail before any stage does hours of work
            raise ValueError(f"unknown stop_after {stop_after!r}")

        if sequences is not None:
            out["sequences"] = self.ingest(sequences, run_id)
        seq_table = self.tables["sequences"]
        seq_sid = seq_table.current_snapshot_id()
        seq_df = seq_table.read(self.spark)
        if seq_df is None:
            raise ValueError("no sequences ingested")

        if stop_after == "chunks" and not cfg.pack_context_len:
            raise ValueError(
                "stop_after='chunks' requires pack_context_len to be set")
        if stop_after == "sketches" and not (cfg.sketch_bins
                                             or cfg.sketch_distinct
                                             or cfg.sketch_topk):
            raise ValueError("stop_after='sketches' requires sketch_bins, "
                             "sketch_distinct, or sketch_topk to be set")
        if stop_after == "periods" and not cfg.periodogram_topk:
            # fail HERE with the other stop_after guards — validating at
            # the periods stage would first run every upstream stage
            # (hours at scale) before raising
            raise ValueError("stop_after='periods' requires "
                             "periodogram_topk to be set")
        if cfg.pack_context_len:
            # packing is a global re-bucketing, so unlike the tier tables
            # it cannot be maintained by incremental merges: stamp the
            # input snapshot into the stage fingerprint so any sequences
            # growth (ingest or update_incremental) repacks on next run
            pfp = f"{cfg.pack_fingerprint()}-in{seq_sid}"
            if not self._stage_done("chunks", pfp):
                t0 = time.time()
                from wotan_spark.spark.packing import pack_sequences
                chunks = pack_sequences(seq_df, cfg.pack_context_len,
                                        eod_token=cfg.pack_eod_token)
                out["chunks"] = self._commit_stage("chunks", chunks, pfp,
                                                   seq_sid, run_id, t0)
        if stop_after == "chunks":
            return out

        # detrended/blocks are full-recompute stages (a per-doc
        # full-resolution output cannot be maintained by the tier merges),
        # so like chunks their fingerprints carry the input snapshot: any
        # sequences growth — ingest OR update_incremental — marks them
        # stale for the next run() instead of leaving them silently
        # missing the late docs while reported 'done'
        dfp = f"{fp}-in{seq_sid}"
        if not self._stage_done("detrended", dfp):
            t0 = time.time()
            # auto skew routing (north_rule): long-tail docs are chunked +
            # salted across tasks instead of pinning one straggler task
            det = detrend_sequences(seq_df, method=cfg.method,
                                    chunk_threshold=self._chunk_threshold(
                                        seq_sid),
                                    window_length=cfg.window_length,
                                    keep_tokens=True, **cfg.params)
            out["detrended"] = self._commit_stage("detrended", det, dfp,
                                                  seq_sid, run_id, t0)
        if stop_after == "detrended":
            return out
        det_df = self.tables["detrended"].read(self.spark)
        det_sid = self.tables["detrended"].current_snapshot_id()

        tfp = self._maintained_fp(fp)
        if not self._stage_done("tier10", tfp):
            t0 = time.time()
            t10 = rollup_tier10(det_df, factor=cfg.tier_factor)
            out["tier10"] = self._commit_stage("tier10", t10, tfp, det_sid,
                                               run_id, t0)
        if stop_after == "tier10":
            return out

        if not self._stage_done("tier100", tfp):
            t0 = time.time()
            t10_df = self.tables["tier10"].read(self.spark)
            t100 = cascade_tier(t10_df, step=cfg.tier_factor)
            out["tier100"] = self._commit_stage(
                "tier100", t100, tfp,
                self.tables["tier10"].current_snapshot_id(), run_id, t0)
        if stop_after == "tier100":
            return out

        out.update(self._run_sketch_stages(seq_df, seq_sid, run_id))
        if stop_after == "sketches":
            return out

        if cfg.periodogram_topk:
            pfp = self._maintained_fp(cfg.period_fingerprint())
            if not self._stage_done("periods", pfp):
                t0 = time.time()
                from wotan_spark.spark.periodogram import dominant_periods
                per = dominant_periods(seq_df, top_k=cfg.periodogram_topk,
                                       n_freqs=cfg.periodogram_freqs)
                out["periods"] = self._commit_stage("periods", per, pfp,
                                                    seq_sid, run_id, t0)
        if stop_after == "periods":
            return out

        bfp = f"{fp}-in{det_sid}"
        if not self._stage_done("blocks", bfp):
            t0 = time.time()
            blocks = encode_blocks(det_df.select("doc_id", "flat"),
                                   column="flat", codec="gorilla", tier=0,
                                   block_size=cfg.block_size)
            out["blocks"] = self._commit_stage("blocks", blocks, bfp,
                                               det_sid, run_id, t0)
        return out

    # ------------------------------------------------------------------
    def _sketch_families(self):
        """Enabled sketch families as (fine_table, coarse_table,
        family_fingerprint, make_fine(seq_df), make_coarse(fine_df))."""
        cfg = self.config
        fams = []
        if cfg.sketch_bins:
            from wotan_spark.spark.histogram import (cascade_histogram,
                                                     tier_histogram)
            fams.append((
                "hist10", "hist100",
                self._maintained_fp(cfg.sketch_fingerprint("hist")),
                lambda df: tier_histogram(df, factor=cfg.tier_factor,
                                          n_bins=cfg.sketch_bins,
                                          lo=cfg.sketch_lo,
                                          hi=cfg.sketch_hi),
                lambda df: cascade_histogram(df, step=cfg.tier_factor)))
        if cfg.sketch_distinct:
            from wotan_spark.spark.distinct import (cascade_distinct,
                                                    tier_distinct)
            fams.append((
                "distinct10", "distinct100",
                self._maintained_fp(cfg.sketch_fingerprint("distinct")),
                lambda df: tier_distinct(df, factor=cfg.tier_factor,
                                         lgk=cfg.sketch_lgk),
                lambda df: cascade_distinct(df, step=cfg.tier_factor)))
        if cfg.sketch_topk:
            from wotan_spark.spark.freq import cascade_topk, tier_topk
            fams.append((
                "topk10", "topk100",
                self._maintained_fp(cfg.sketch_fingerprint("topk")),
                lambda df: tier_topk(df, factor=cfg.tier_factor,
                                     max_items=cfg.sketch_max_items),
                lambda df: cascade_topk(df, step=cfg.tier_factor,
                                        max_items=cfg.sketch_max_items)))
        return fams

    def _run_sketch_stages(self, seq_df: DataFrame, seq_sid,
                           run_id: str) -> dict:
        """Resumable full builds of the enabled sketch tiers (the
        incremental twin lives in ``merge_changed``).  Coarse tiers
        cascade from the COMMITTED fine table, like tier100 from tier10 —
        one raw scan per family, resume-consistent."""
        out: dict[str, int] = {}
        for fine, coarse, sfp, make_fine, make_coarse in \
                self._sketch_families():
            if not self._stage_done(fine, sfp):
                t0 = time.time()
                out[fine] = self._commit_stage(fine, make_fine(seq_df),
                                               sfp, seq_sid, run_id, t0)
            if not self._stage_done(coarse, sfp):
                t0 = time.time()
                fine_df = self.tables[fine].read(self.spark)
                out[coarse] = self._commit_stage(
                    coarse, make_coarse(fine_df), sfp,
                    self.tables[fine].current_snapshot_id(), run_id, t0)
        return out

    # ------------------------------------------------------------------
    def enforce_retention(self, policy, run_id: str | None = None) -> dict:
        """Apply a ``RetentionPolicy`` across the tier tables (fine tiers
        age out, coarse persist), emitting a lineage row per retention
        commit like any other stage.  Old snapshots stay time-travelable
        until ``retention.expire_snapshots`` reclaims them."""
        from wotan_spark.spark.retention import (apply_retention,
                                                 cutoffs_from_policy)
        run_id = run_id or f"ret-{int(time.time())}"
        t0 = time.time()
        cutoffs = cutoffs_from_policy(self.spark, self.tables, policy)
        report = apply_retention(self.spark, self.tables, cutoffs,
                                 run_id=run_id)
        wall = time.time() - t0
        for name, r in report.items():
            self._log_lineage(name, r["snapshot_id"], None, run_id,
                              f"retention-{name}", wall)
        return report

    # ------------------------------------------------------------------
    def compact_tables(self, tables: tuple[str, ...] = (
                           "tier10", "tier100", "hist10", "hist100",
                           "distinct10", "distinct100", "topk10",
                           "topk100"),
                       target_file_rows: int = TARGET_FILE_ROWS,
                       cluster_by: str | list[str] | None = "bucket",
                       run_id: str | None = None) -> dict:
        """Maintenance compaction across tier tables (Iceberg
        rewrite_data_files model): bin-pack the small-file generations left
        by streaming merges and incremental upserts, range-clustering on
        the bucket column so retention scans and range probes prune whole
        files (a LIST of columns forwards to compact()'s Z-order path for
        tables probed on two dimensions).  Emits a lineage row per
        rewritten file; a table already in that layout is left as is."""
        run_id = run_id or f"compact-{int(time.time())}"
        report: dict[str, dict] = {}
        for name in tables:
            table = self.tables[name]
            head = table.current_snapshot_id()
            if head is None:
                continue
            before = len(table.data_files())
            t0 = time.time()
            sid = table.compact(self.spark, target_file_rows=target_file_rows,
                                cluster_by=cluster_by, run_id=run_id)
            if sid != head:
                self._log_lineage(name, sid, None, run_id,
                                  f"compact-{name}", time.time() - t0)
            report[name] = {"files_before": before,
                            "files_after": len(table.data_files()),
                            "snapshot_id": sid}
        return report

    # ------------------------------------------------------------------
    def _retention_cutoff(self, name: str) -> int | None:
        from wotan_spark.spark.retention import retention_cutoff
        return retention_cutoff(self.tables[name])

    def update_incremental(self, new_sequences: DataFrame,
                           run_id: str | None = None) -> dict:
        """Continuous-aggregate update for late/new sequences: fused
        detrend+tier10 on ONLY the new rows, MERGE-upserted into the tier
        tables keyed on (doc_id, bucket) — the batch equivalent of the
        streaming ingestion path; raw history is never recomputed.

        Late rows OLDER than a table's committed retention cutoff are
        dropped before the merge: without the gate, a straggler sequence
        would silently resurrect aged-out buckets that every earlier
        reader has already seen disappear.

        Sequence identity: a re-delivered doc_id REPLACES its stored row
        (keyed merge — a blind append left two sequence rows, and
        merge_changed then committed duplicate (doc_id, bucket) tier rows
        that double-counted the doc forever); a doc_id duplicated WITHIN
        the batch fails loudly, same discipline as the index
        maintainers."""
        run_id = run_id or f"inc-{int(time.time())}"
        # one read of the batch's doc ids serves the duplicate check, the
        # sequences merge's keys and the changed-doc set
        own_persist = not new_sequences.is_cached
        if own_persist:
            new_sequences = new_sequences.persist()
        try:
            id_rows = new_sequences.select("doc_id").collect()
            counts = Counter(r[0] for r in id_rows)
            dup = next(((d, n) for d, n in counts.items() if n > 1), None)
            if dup:
                raise ValueError(
                    f"doc_id {dup[0]} appears {dup[1]} times in this batch"
                    " — deduplicate the batch before update_incremental()")
            self.tables["sequences"].merge_buckets(
                self.spark, new_sequences, keys=["doc_id"],
                key_rows=id_rows, run_id=run_id, incremental=True)
        finally:
            if own_persist:
                new_sequences.unpersist()
        return self.merge_changed(list(counts), run_id)

    def merge_changed(self, changed_docs: DataFrame | list,
                      run_id: str) -> dict:
        """Recompute every tier/sketch row of the given doc ids (a frame
        with a ``doc_id`` column, or the ids themselves) from the CURRENT
        sequences table and upsert them.  IDEMPOTENT: the merges are
        deterministic keyed replaces, so replaying the same doc set
        rewrites identical rows — the streaming sink leans on this for
        crash-replay safety (``streaming.run_pipeline_ingestion``)."""
        import pyspark.sql.functions as F
        cfg = self.config
        t0 = time.time()
        if isinstance(changed_docs, DataFrame):
            changed_docs = [r[0] for r in
                            changed_docs.select("doc_id").collect()]
        # a null id matches no sequence row
        ids = [d for d in changed_docs if d is not None]
        seq = self.tables["sequences"]
        seq_sid = seq.current_snapshot_id()
        seq_changed = (seq.read(self.spark, where_in=("doc_id", ids)) if ids
                       else seq.read(self.spark).filter(F.lit(False)))

        factor = cfg.tier_factor

        def _gate(name: str, df: DataFrame) -> DataFrame:
            cut = self._retention_cutoff(name)
            return df if cut is None else df.filter(F.col("bucket") >= cut)

        def _coarse_src(fine_full: DataFrame, fine_name: str) -> DataFrame:
            # cascade source gates at the ALIGNED-DOWN fine boundary: a
            # late-data touch must rebuild a boundary coarse bucket from
            # its COMPLETE fine span, and the recompute runs from raw
            # sequences, where the pre-cutoff part of that span still
            # exists even after fine-tier retention trimmed the fine
            # table.  Gating at the exact (unaligned) cutoff would
            # silently shrink the committed coarse row on replace.
            cut = self._retention_cutoff(fine_name)
            if cut is None:
                return fine_full
            return fine_full.filter(
                F.col("bucket") >= (cut // factor) * factor)

        def _merge(name: str, df: DataFrame, fp: str) -> int:
            # stamp the stage fingerprint only when the stage is ALREADY
            # done: a maintenance merge keeps a completed table 'done'
            # (_stage_done contract) but must never MAKE a never-built
            # table look done — that would leave run() skipping the full
            # build over a table holding only this batch's docs
            meta = {"run_id": run_id}
            if self._stage_done(name, fp):
                meta["fingerprint"] = fp
            # DOC-level replace, not (doc_id, bucket): the batch holds the
            # doc's complete recomputed row set, and a corrected doc that
            # SHRANK must drop its stale tail buckets — a bucket-keyed
            # upsert left them as phantoms (and bucket-range file pruning
            # could keep a file holding exactly those phantoms verbatim)
            return self.tables[name].merge_buckets(
                self.spark, df, keys=["doc_id"], **meta)

        t10_full = detrend_rollup_fused(
            seq_changed, cfg.method, factor=factor,
            chunk_threshold=self._chunk_threshold(seq_sid),
            window_length=cfg.window_length, **cfg.params).persist()
        try:
            sid10 = _merge("tier10", _gate("tier10", t10_full),
                           self._maintained_fp(cfg.fingerprint()))
            t100_new = _gate("tier100",
                             cascade_tier(_coarse_src(t10_full, "tier10"),
                                          step=factor))
            sid100 = _merge("tier100", t100_new,
                            self._maintained_fp(cfg.fingerprint()))
        finally:
            t10_full.unpersist()
        # sketch tiers upsert the same way: fine rows behind the exact
        # fine cutoff, coarse rows cascaded from the aligned-down fine
        # frame (complete boundary buckets) behind the coarse cutoff;
        # the fine frame is persisted across its merges + the cascade
        sketch_sids: dict[str, int] = {}
        for fine, coarse, sfp, make_fine, make_coarse in \
                self._sketch_families():
            f_full = make_fine(seq_changed).persist()
            try:
                sketch_sids[fine] = _merge(fine, _gate(fine, f_full), sfp)
                c_df = _gate(coarse,
                             make_coarse(_coarse_src(f_full, fine)))
                sketch_sids[coarse] = _merge(coarse, c_df, sfp)
            finally:
                f_full.unpersist()
        # the periodogram tier upserts per-doc rows keyed on (doc_id,
        # rank) — no bucket axis, so no retention gate; same stamp-only-
        # when-done rule as the other merges
        if cfg.periodogram_topk:
            from wotan_spark.spark.periodogram import dominant_periods
            pfp = self._maintained_fp(cfg.period_fingerprint())
            pmeta = {"run_id": run_id}
            if self._stage_done("periods", pfp):
                pmeta["fingerprint"] = pfp
            per = dominant_periods(seq_changed,
                                   top_k=cfg.periodogram_topk,
                                   n_freqs=cfg.periodogram_freqs)
            sketch_sids["periods"] = self.tables["periods"].merge_buckets(
                self.spark, per, keys=["doc_id"], **pmeta)
        self._log_lineage("tier10", sid10, seq_sid, run_id,
                          "tier10-incremental", time.time() - t0)
        return {"tier10": sid10, "tier100": sid100, **sketch_sids}
