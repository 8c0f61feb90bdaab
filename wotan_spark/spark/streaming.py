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

from pyspark.sql import DataFrame, SparkSession

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
