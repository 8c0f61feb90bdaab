"""Structured Streaming ingestion into the rollup tiers.

The batch engine's incremental boundary is the lakehouse snapshot; this
module adds the streaming front door: a file-source ``readStream`` over
landing parquet of sequences, ``Trigger.AvailableNow`` micro-batches, each
batch run through the fused detrend+tier rollup and MERGE-upserted into the
tier table via ``foreachBatch`` (exactly-once per batch at the snapshot
level: checkpointed source offsets + atomic snapshot commit).

The reference is a batch library with no streaming surface; this implements
the "continuous aggregate" semantics of the engine's rule set for late-
arriving sequences.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

from wotan_spark.spark.lakehouse import SnapshotTable
from wotan_spark.spark.detrend_op import (AUTO_CHUNK_THRESHOLD,
                                          detrend_rollup_fused)
from wotan_spark.spark.synth import SEQUENCES_SCHEMA


def stream_sequences(spark: SparkSession, landing_dir: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (spark.readStream.schema(SEQUENCES_SCHEMA)
              .format("parquet"))
    # `is not None`, not truthiness: an explicit 0 must reach Spark and be
    # rejected loudly, not silently mean "unlimited"
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(landing_dir)


def run_ingestion(spark: SparkSession, landing_dir: str, table_root: str,
                  checkpoint_dir: str, method: str = "biweight",
                  window_length: float = 17.0, factor: int = 10):
    """Drain all available landing files into the tier-10 table, one
    MERGE-committed snapshot per micro-batch.  Returns the streaming query
    (already awaiting termination under AvailableNow)."""
    tier_table = SnapshotTable(table_root)
    stream = stream_sequences(spark, landing_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import pyspark.sql.functions as F

        from wotan_spark.spark.retention import retention_cutoff

        # skew-safe fused pass: a long landing doc is chunked+salted, each
        # chunk emits its bucket-aligned core's tier rows directly
        t10 = detrend_rollup_fused(batch_df, method, factor=factor,
                                   chunk_threshold=AUTO_CHUNK_THRESHOLD,
                                   window_length=window_length)
        # late data never resurrects aged-out buckets (retention gate)
        cut = retention_cutoff(tier_table)
        if cut is not None:
            t10 = t10.filter(F.col("bucket") >= cut)
        # doc-level replace (see pipeline.merge_changed): the batch holds
        # each doc's complete recomputed tier rows, and a corrected doc
        # that shrank must drop its stale tail buckets
        tier_table.merge_buckets(spark, t10, keys=["doc_id"],
                                 stream_batch=batch_id)

    q = (stream.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


POINTS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("t", LongType(), False),
    StructField("y", DoubleType(), False),
])


def run_enrichment(spark: SparkSession, landing_dir: str, tier_root: str,
                   out_root: str, checkpoint_dir: str,
                   bucket_width: int = 10,
                   tolerance_buckets: int | None = 3):
    """Streaming point-in-time enrichment: each micro-batch of raw points
    is as-of joined against the LATEST tier-10 snapshot — every point gets
    the mean of its doc's freshest COMPLETED bucket — and INSERT-ONLY
    appended (anti-joined on committed (doc_id, t) keys first) to an
    output table stamped with the tier snapshot it read.  Points are
    assumed unique per (doc_id, t); insert-only makes the sink idempotent
    in both keys AND values under at-least-once replay and checkpoint
    rebuilds — replayed rows keep the enrichment they were committed
    with, new rows are enriched against the current tier.  (A batch-id
    guard cannot give this: rebuilt checkpoints renumber batches, so an
    id match can mask never-processed files; a key-MERGE would rewrite
    committed values against whatever tier is current at replay.)

    This is the consumption side of the continuous-aggregate loop: the
    ingestion sink keeps the tier table moving, and because ``foreachBatch``
    re-resolves the snapshot HEAD per batch, enrichment always reflects the
    newest committed rollup with snapshot isolation (a batch never sees a
    half-written tier).  The as-of join is the union-sort single-exchange
    plan (spark/joins.py), so the per-batch cost is one small shuffle of
    |batch| + |tier| rows on doc_id.  At scale, prune the tier side first
    (``SnapshotTable.read(where=...)`` on the batch's bucket range) so the
    right side is days, not history.
    """
    import pyspark.sql.functions as F

    from wotan_spark.spark.joins import asof_join

    tier_table = SnapshotTable(tier_root)
    out_table = SnapshotTable(out_root)
    stream = (spark.readStream.schema(POINTS_SCHEMA)
              .format("parquet").load(landing_dir))
    tol = (tolerance_buckets * bucket_width
           if tolerance_buckets is not None else None)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once AND batch ids are only meaningful
        # within one checkpoint lineage: a batch-id guard would silently
        # DROP new data after a checkpoint rebuild (batch 0 then contains
        # old+new files but matches the old snapshot's stamp).  Replay
        # safety comes from content idempotence instead: points already
        # committed (by doc_id, t key) are anti-joined away and only the
        # remainder is appended — INSERT-ONLY, so a replayed or rebuilt
        # batch neither duplicates rows NOR rewrites committed enrichment
        # values against whatever tier snapshot happens to be current at
        # replay time (a key-MERGE would).  The committed side is pruned
        # to the batch's [min t, max t] range first (one tiny eager agg
        # over the batch), so the dedup probe scans the touched slice of
        # the output table — parquet min/max stats skip the rest — not
        # its whole history per micro-batch.
        # resolve HEAD once and read THAT snapshot: a concurrent ingestion
        # commit between the two calls would otherwise desynchronize the
        # recorded tier_snapshot stamp from the data actually joined
        sid = tier_table.current_snapshot_id()
        tier = (tier_table.read(spark, snapshot_id=sid)
                if sid is not None else None)
        if tier is None:
            enriched = batch_df.withColumn(
                "y_mean_asof", F.lit(None).cast("double"))
        else:
            right = tier.select(
                "doc_id",
                ((F.col("bucket") + 1) * bucket_width).alias("t_end"),
                "y_mean")
            enriched = asof_join(batch_df, right, on="doc_id",
                                 left_time="t", right_time="t_end",
                                 tolerance=tol)
        spark_b = batch_df.sparkSession
        out_head = out_table.current_snapshot_id()
        if out_head is not None:
            lo, hi = batch_df.agg(F.min("t"), F.max("t")).first()
            if lo is None:
                return                     # empty batch: nothing to insert
            # read(where=...) prunes whole data files DRIVER-SIDE from the
            # manifest's per-file min/max stats (and applies the residual
            # between() itself) — files outside the batch range are never
            # listed or opened, unlike a post-read .filter() which still
            # touches every footer in the table's history
            committed = (out_table.read(spark_b, snapshot_id=out_head,
                                        where=("t", lo, hi))
                         .select("doc_id", "t"))
            enriched = enriched.join(committed, ["doc_id", "t"],
                                     "left_anti")
        # persist before the isEmpty probe: without it the probe and the
        # append would each run the whole per-batch plan (asof union-sort
        # + anti-join dedup) — doubling micro-batch latency on the common
        # non-empty path
        enriched = enriched.persist()
        try:
            if not enriched.isEmpty():
                out_table.append(enriched, stream_batch=batch_id,
                                 tier_snapshot=sid)
        finally:
            enriched.unpersist(blocking=False)

    q = (stream.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q

TS_POINTS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("ts", TimestampType(), False),
    StructField("y", DoubleType(), False),
])


def streaming_session_rollup(spark: SparkSession, landing_dir: str,
                             checkpoint_dir: str, query_name: str,
                             gap: str = "30 minutes",
                             watermark: str = "2 hours",
                             max_files_per_trigger: int = 1):
    """Streaming gap-based session aggregation: ``session_window`` under a
    watermark — sessions merge as in-gap events arrive across micro-batches
    and finalize (append mode) once the watermark passes session end."""
    import pyspark.sql.functions as F

    stream = (spark.readStream.schema(TS_POINTS_SCHEMA).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(landing_dir))
    agg = (stream.withWatermark("ts", watermark)
           .groupBy(F.session_window("ts", gap).alias("w"), "doc_id")
           .agg(F.count("*").alias("n"), F.sum("y").alias("y_sum"))
           .select("doc_id", F.col("w.start").alias("s_start"),
                   F.col("w.end").alias("s_end"), "n", "y_sum"))
    q = (agg.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def streaming_windowed_rollup(spark: SparkSession, landing_dir: str,
                              checkpoint_dir: str, query_name: str,
                              bucket: str = "1 hour",
                              watermark: str = "2 hours",
                              max_files_per_trigger: int = 1):
    """Event-time windowed tier rollup with a watermark: late rows inside
    the watermark still update their window; rows later than
    (max event time - watermark) are dropped and their windows finalized.
    Append mode emits each (doc_id, window) exactly once, on finalization.
    """
    import pyspark.sql.functions as F

    stream = (spark.readStream.schema(TS_POINTS_SCHEMA).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(landing_dir))
    agg = (stream.withWatermark("ts", watermark)
           .groupBy(F.window("ts", bucket).alias("w"), "doc_id")
           .agg(F.count("*").alias("n"), F.sum("y").alias("y_sum"))
           .select("doc_id", F.col("w.start").alias("bucket_start"),
                   "n", "y_sum"))
    q = (agg.writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q

_STATS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("n", LongType(), False),
    StructField("y_sum", DoubleType(), False),
    StructField("y_min", DoubleType(), False),
    StructField("y_max", DoubleType(), False),
    StructField("last_t", LongType(), False),
    StructField("n_segments", LongType(), False),
])

_STATE_SCHEMA = StructType([
    StructField("n", LongType(), False),
    StructField("y_sum", DoubleType(), False),
    StructField("y_min", DoubleType(), False),
    StructField("y_max", DoubleType(), False),
    StructField("last_t", LongType(), False),
    StructField("n_segments", LongType(), False),
])


def _running_stats_fn(break_tolerance: int):
    def fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        prev = (tuple(state.get) if state.exists
                else (0, 0.0, float("inf"), float("-inf"), -1, 0))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        new = _merge_running_stats(prev, chunks, break_tolerance)
        n, y_sum, y_min, y_max, last_t, n_seg = new
        state.update(new)
        yield pd.DataFrame({
            "doc_id": [key[0]], "n": [n], "y_sum": [y_sum],
            "y_min": [y_min], "y_max": [y_max], "last_t": [last_t],
            "n_segments": [n_seg]})

    return fn


def _merge_running_stats(state_tuple, chunks, break_tolerance: int):
    """Shared cross-batch update: (state, [pdf chunks]) -> (state, out-row
    dict).  Concat+sorts the whole micro-batch ONCE (chunks arrive with no
    global t-order) before the segment count — see _running_stats_fn."""
    import numpy as np

    n, y_sum, y_min, y_max, last_t, n_seg = state_tuple
    if chunks:
        batch = (pd.concat(chunks, ignore_index=True)
                 if len(chunks) > 1 else chunks[0])
        batch = batch.sort_values("t", kind="mergesort")
        t = batch["t"].to_numpy()
        y = batch["y"].to_numpy()
        n_seg += int((np.diff(t) > break_tolerance).sum())
        if n == 0 or t[0] - last_t > break_tolerance:
            n_seg += 1
        n += len(t)
        y_sum += float(y.sum())
        y_min = min(y_min, float(y.min()))
        y_max = max(y_max, float(y.max()))
        last_t = int(t[-1])
    return (n, y_sum, y_min, y_max, last_t, n_seg)


def make_running_stats_processor(break_tolerance: int):
    """StatefulProcessor (state-v2 / transformWithStateInPandas) twin of
    the applyInPandasWithState running-stats operator: same per-series
    cross-batch state, expressed in the modern API whose state store is
    RocksDB-backed and supports typed value/list/map state + timers.

    Self-contained on purpose: the TWS *driver-side* schema-discovery
    worker deserializes this object WITHOUT the session's addPyFile path,
    so any reference to wotan_spark modules would fail with
    ModuleNotFoundError there — the class is defined inside this factory
    (pickled by value) and touches only pandas/numpy."""
    from pyspark.sql.streaming import StatefulProcessor

    class RunningStatsProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "stats",
                "n long, y_sum double, y_min double, y_max double, "
                "last_t long, n_segments long")

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as _pd

            prev = (self._state.get() if self._state.exists()
                    else (0, 0.0, float("inf"), float("-inf"), -1, 0))
            n, y_sum, y_min, y_max, last_t, n_seg = tuple(prev)
            chunks = [pdf for pdf in rows if len(pdf)]
            if chunks:
                # concat + sort ONCE: chunks carry no global t-order
                batch = (_pd.concat(chunks, ignore_index=True)
                         if len(chunks) > 1 else chunks[0])
                batch = batch.sort_values("t", kind="mergesort")
                t = batch["t"].to_numpy()
                y = batch["y"].to_numpy()
                n_seg += int((np.diff(t) > break_tolerance).sum())
                if n == 0 or t[0] - last_t > break_tolerance:
                    n_seg += 1
                n += len(t)
                y_sum += float(y.sum())
                y_min = min(y_min, float(y.min()))
                y_max = max(y_max, float(y.max()))
                last_t = int(t[-1])
            self._state.update((n, y_sum, y_min, y_max, last_t, n_seg))
            yield _pd.DataFrame({
                "doc_id": [key[0]], "n": [n], "y_sum": [y_sum],
                "y_min": [y_min], "y_max": [y_max], "last_t": [last_t],
                "n_segments": [n_seg]})

        def close(self) -> None:
            pass

    return RunningStatsProcessor()


def streaming_running_stats_v2(spark: SparkSession, landing_dir: str,
                               checkpoint_dir: str, query_name: str,
                               break_tolerance: int = 10,
                               max_files_per_trigger: int = 1):
    """`transformWithStateInPandas` variant of streaming_running_stats —
    the arbitrary-stateful-operator API v2 (typed state, RocksDB store,
    timers).  Requires the RocksDB state store provider (set here) AND the
    ``protobuf`` package (the TWS Python<->JVM state protocol; present on
    standard Spark deployments, absent in this sandbox — the test
    capability-skips, and the applyInPandasWithState operator above is the
    env-independent twin with identical semantics)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    stream = (spark.readStream.schema(POINTS_SCHEMA).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(landing_dir))
    updated = (stream.groupBy("doc_id")
               .transformWithStateInPandas(
                   make_running_stats_processor(break_tolerance),
                   outputStructType=_STATS_SCHEMA,
                   outputMode="Update",
                   timeMode="None"))
    q = (updated.writeStream.format("memory").queryName(query_name)
         .outputMode("update")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def streaming_running_stats(spark: SparkSession, landing_dir: str,
                            checkpoint_dir: str, query_name: str,
                            break_tolerance: int = 10,
                            max_files_per_trigger: int = 1):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-series running stats + gap segmentation whose state (count, sum,
    min/max, last timestamp, segment counter) survives micro-batch
    boundaries — a segment spanning two batches is counted once.

    Reads long-form points (doc_id, t, y) from landing parquet, emits the
    updated per-series row each micro-batch to a memory sink named
    ``query_name``.  The batch twin of this operator is the lag+sum window
    segmentation (SURVEY.md §2.2 stage 9)."""
    stream = (spark.readStream.schema(POINTS_SCHEMA).format("parquet")
              .option("maxFilesPerTrigger", str(max_files_per_trigger))
              .load(landing_dir))
    updated = (stream.groupBy("doc_id")
               .applyInPandasWithState(
                   _running_stats_fn(break_tolerance),
                   outputStructType=_STATS_SCHEMA,
                   stateStructType=_STATE_SCHEMA,
                   outputMode="update",
                   timeoutConf=GroupStateTimeout.NoTimeout))
    q = (updated.writeStream.format("memory").queryName(query_name)
         .outputMode("update")
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def _pipeline_sink(pipeline, batch_df: DataFrame, rid: str) -> None:
    """One micro-batch through the pipeline's incremental path.  The
    sequences append is guarded by the batch's run id (skipped on
    foreachBatch replay); the tier/sketch merges are deterministic keyed
    replaces, so re-merging the same docs is harmless — together the sink
    is effectively-once on top of at-least-once delivery."""
    if pipeline.tables["sequences"].find_snapshot(run_id=rid) is None:
        pipeline.update_incremental(batch_df, run_id=rid)
    else:  # replay after a crash mid-merge: finish the merges only
        pipeline.merge_changed(batch_df.select("doc_id"), rid)


def run_pipeline_ingestion(spark: SparkSession, landing_dir: str,
                           pipeline, checkpoint_dir: str,
                           max_files_per_trigger: int | None = None):
    """Drain landing sequence files through the FULL continuous-aggregate
    pipeline, one micro-batch at a time (AvailableNow): raw append, stats
    tiers, any enabled sketch tiers, retention gates, and lineage all
    advance per drain — the streaming twin of
    ``Pipeline.update_incremental``, vs ``run_ingestion``'s single
    tier-10 table.

    Batch run ids are derived from the checkpoint location, so the same
    checkpoint replaying a batch dedupes the raw append while a DIFFERENT
    checkpoint (a new subscription) gets fresh ids.  Keep one stable
    checkpoint dir per landing dir: pointing a fresh checkpoint at
    already-drained files would re-append them (same rule as any Spark
    streaming sink with side effects).
    """
    import hashlib
    import os
    import re

    stream = stream_sequences(spark, landing_dir, max_files_per_trigger)
    # normalize: a path-spelling change across a crash restart ("ckpt/"
    # vs "ckpt", relative vs absolute cwd path, "file:/tmp/c" vs
    # "/tmp/c") must not defeat the replay guard.  Remote URI locations
    # (hdfs://, s3a://) are already absolute — os.path.abspath would
    # bake the driver cwd into them and mangle the scheme — while
    # file: URIs reduce to their local path.
    m = re.match(r"^file:(//)?(?P<p>/.*)$", checkpoint_dir)
    if m:
        norm = os.path.abspath(m.group("p"))
    elif re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:", checkpoint_dir):
        norm = checkpoint_dir.rstrip("/")
    else:
        norm = os.path.abspath(checkpoint_dir)
    tag = hashlib.md5(norm.encode()).hexdigest()[:8]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _pipeline_sink(pipeline, batch_df, f"stream-{tag}-{batch_id}")

    q = (stream.writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
