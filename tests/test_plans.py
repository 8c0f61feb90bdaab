"""Physical-plan assertions: the plans must stay the plans we designed.

These guard the scale properties the engine is built around — if a future
change introduces an exchange into the packed path or loses predicate
pushdown, these fail before any benchmark would notice.
"""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
import pytest

from wotan_spark.spark.datapipe import cosine_topk
from wotan_spark.spark.detrend_op import (detrend_rollup_fused,
                                          detrend_sequences)
from wotan_spark.spark.rollup import rollup_tier10
from wotan_spark.spark.synth import synth_sequences


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_packed_pipeline_has_no_shuffle(spark, tmp_path):
    path = str(tmp_path / "seq")
    synth_sequences(spark, 8, median_len=100, max_len=200) \
        .write.parquet(path)
    seq = spark.read.parquet(path)
    fused = detrend_rollup_fused(seq, "mean", window_length=17)
    plan = _plan(fused)
    assert "Exchange" not in plan, f"packed pipeline must not shuffle:\n{plan}"
    chained = rollup_tier10(detrend_sequences(seq, method="mean",
                                              window_length=17,
                                              keep_tokens=True))
    assert "Exchange" not in _plan(chained)


def test_source_filter_pushed_to_scan(spark, tmp_path):
    path = str(tmp_path / "seq")
    synth_sequences(spark, 8, median_len=100, max_len=200) \
        .write.parquet(path)
    seq = spark.read.parquet(path).filter(F.col("source") == "web")
    fused = detrend_rollup_fused(seq, "mean", window_length=17)
    plan = _plan(fused)
    assert "PushedFilters" in plan and "source" in plan.split(
        "PushedFilters")[1][:120], \
        f"source filter should reach the parquet scan:\n{plan}"


def test_column_pruning_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "seq")
    synth_sequences(spark, 8, median_len=100, max_len=200) \
        .write.parquet(path)
    seq = spark.read.parquet(path)
    # a projection that only needs doc_id/n_tok must not read tokens
    slim = seq.select("doc_id", "n_tok")
    plan = _plan(slim)
    scan_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in scan_schema, \
        f"tokens must be pruned from the scan: {scan_schema}"


def test_dedup_pair_queries_scan_input_once(spark):
    """The inverted-index pair generators must evaluate the shingle /
    signature subtree once at runtime.  Since the single-pass block-index
    rewrite, all pair branches (within-block union cross-block self-join)
    read one persisted block index, so the FINAL executed plan must
    contain exactly one scan of the documents table and no extra exchange
    for the block groupBy (the count window's partitioning satisfies
    it)."""
    from wotan_spark.spark.datapipe import (minhash_lsh_pairs,
                                            ngram_jaccard_pairs)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn in (ngram_jaccard_pairs, minhash_lsh_pairs):
        df = fn(docs)
        df.collect()
        final = _plan(df).split("== Initial Plan ==")[0]
        n_scans = final.count("FileScan parquet")
        assert n_scans == 1, \
            f"{fn.__name__}: expected 1 scan in final plan, " \
            f"found {n_scans}:\n{final}"


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Pre-bucketing both sides of a recurring join key (doc_id) removes
    the shuffle entirely: the sort-merge join reads co-located buckets.
    This is the 100 TB pattern for joining detrended output back to
    sequence metadata without a corpus-wide exchange."""
    import uuid
    seq = synth_sequences(spark, 32, median_len=50, max_len=100)
    a, b = f"seq_a_{uuid.uuid4().hex[:8]}", f"seq_b_{uuid.uuid4().hex[:8]}"
    (seq.select("doc_id", "n_tok").write.bucketBy(8, "doc_id")
        .sortBy("doc_id").mode("overwrite").saveAsTable(a))
    (seq.select("doc_id", "source").write.bucketBy(8, "doc_id")
        .sortBy("doc_id").mode("overwrite").saveAsTable(b))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (tiny test tables would auto-broadcast;
        # at corpus scale neither side is broadcastable)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (spark.table(a).join(spark.table(b), "doc_id")
                  .groupBy("source").count())
        plan = _plan(joined)
        assert joined.agg(F.sum("count")).collect()[0][0] == 32
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(doc_id" not in plan, \
            f"bucketed join must not reshuffle on doc_id:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {a}")
        spark.sql(f"DROP TABLE IF EXISTS {b}")


def test_sql_native_paths_stay_jvm_side(spark):
    """The SQL-expressible operators (range-window slider, tier rollup,
    gap-fill resampler, transit mask) must contain no Python evaluation
    node — Python crossings are reserved for the robust kernels.  (Window
    exec itself never joins whole-stage codegen, so only the negative
    assertion is checkable pre-execution under AQE.)"""
    import __spark_entry__ as entry
    for name in ["mean_slider_range", "tier10_rollup", "gapfill_ffill",
                 "transit_mask_count", "rollup_hierarchy"]:
        plan = _plan(entry.queries()[name](spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in plan, \
            f"{name} must not cross into Python:\n{plan}"


def test_cosine_topk_avoids_cross_join(spark):
    """Brute-force top-k is a partial-top-k scan (query matrix closed over,
    per-partition NumPy matmul): the plan must contain no join at all and
    exactly one scan of the embeddings table — the final exchange carries
    only k*n_partitions*n_queries candidate rows."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(cosine_topk(emb, [0, 1], k=2))
    assert "Join" not in plan, f"top-k must not join:\n{plan}"
    assert plan.count("embeddings.parquet") == 1


def test_chunk_spread_has_explicit_partition_count(spark):
    """Regression guard: the chunk-salting repartition MUST carry an
    explicit partition count.  A bare column repartition is AQE-coalescible,
    and chunk rows are few bytes but heavy CPU, so byte-targeted coalescing
    folds them back into one task — recreating the straggler the chunked
    path exists to remove (caught live in round 2)."""
    import pyspark.sql.functions as F

    from wotan_spark.spark.synth import synth_sequences

    seq = synth_sequences(spark, 4, median_len=300, max_len=2000)
    import re

    plan = (detrend_sequences(seq, method="mean", window_length=17,
                              chunk_threshold=0, chunk_size=64)
            ._jdf.queryExecution().optimizedPlan().toString())
    # explicit numPartitions renders as "RepartitionByExpression [...], N"
    assert re.search(r"RepartitionByExpression \[[^\]]*\], \d+", plan), plan


def test_no_row_at_a_time_python_udfs():
    """input_hint contract: vectorized pandas/Arrow UDFs only — no
    F.udf/pandas-free per-row Python anywhere in the engine package."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "wotan_spark"
    for f in root.rglob("*.py"):
        text = f.read_text()
        assert not re.search(r"\bF\.udf\s*\(|\budf\s*\(\s*lambda", text), \
            f"row-at-a-time UDF in {f}"


def test_spread_skips_shuffle_when_parallelism_sufficient(spark):
    """_spread on a non-file-backed frame (inputFiles empty) must gate on
    the plan's existing partition count instead of repartitioning
    unconditionally — an already-parallel in-memory frame gains no shuffle
    (ADVICE r2)."""
    from wotan_spark.spark.datapipe import _spread
    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, numPartitions=n + 2)
    assert _spread(wide) is wide                      # no-op, same plan
    narrow = spark.range(0, 1000, numPartitions=1)
    out = _spread(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == n


def test_pq_topk_avoids_cross_join(spark):
    """The PQ candidate pass must stay a single scan of the code column +
    partial top-k — no cartesian/cross join with the query set."""
    from wotan_spark.spark.datapipe import cosine_topk_pq
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = cosine_topk_pq(emb, [0, 1, 2], k=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_pack_sequences_has_no_global_order_exchange(spark):
    """The packed-chunk plan must never collapse to one partition: the
    naive global-order window would show `Exchange SinglePartition` (rows)
    or `Exchange rangepartitioning(... 1)`; the two-phase offset design
    keeps every exchange hash- or N-way-range-partitioned."""
    from wotan_spark.spark.packing import pack_sequences
    docs = spark.createDataFrame(
        [(f"d{i}", list(range(i + 1)), i + 1, "t") for i in range(20)],
        "doc_id string, tokens array<int>, n_tok int, source string")
    plan = pack_sequences(docs, 8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    import re
    range_counts = [int(m) for m in re.findall(
        r"rangepartitioning\([^)]*?,\s*(\d+)\)", plan)]
    assert all(n > 1 for n in range_counts), plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_distinct_tier_partially_aggregates_before_exchange(spark, tmp_path):
    """tier_distinct must combine map-side: only finished (doc, bucket,
    sketch) rows cross the exchange, never raw exploded tokens — the
    property that makes the sketch build affordable at 10^12 tokens."""
    from wotan_spark.spark.distinct import tier_distinct
    path = str(tmp_path / "seq")
    synth_sequences(spark, 8, median_len=100, max_len=200) \
        .write.parquet(path)
    t10 = tier_distinct(spark.read.parquet(path), 10)
    plan = _plan(t10)
    assert "Exchange" in plan
    pre_exchange = plan.split("Exchange")[-1]          # subtree BELOW it
    assert "partial_hll_sketch_agg" in pre_exchange, \
        f"map-side partial sketch aggregation missing below exchange:\n{plan}"


def test_lazy_pair_plans_keep_their_caches(spark):
    """Building a SECOND pair plan before executing the first must not
    evict the first plan's block-index cache (round-4 review): both plans
    still scan their input exactly once at execution."""
    from wotan_spark.spark.datapipe import (minhash_lsh_pairs,
                                            ngram_jaccard_pairs)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = minhash_lsh_pairs(docs)
    b = ngram_jaccard_pairs(docs)     # built while `a` is still lazy
    for df in (a, b):
        df.collect()
        final = _plan(df).split("== Initial Plan ==")[0]
        n_scans = final.count("FileScan parquet")
        assert n_scans == 1, f"expected 1 scan, found {n_scans}"


def test_token_histogram_topk_is_distributed(spark):
    """The top-k cut over the vocabulary must be TakeOrderedAndProject
    (per-partition k-row heaps), never an unpartitioned window sorting
    the full count frame on one task — the vocabulary is corpus-scale
    for a web corpus, so that window IS the corpus shuffled to one
    executor."""
    from wotan_spark.spark.datapipe import token_histogram
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(token_histogram(docs, top_k=50))
    assert "TakeOrderedAndProject" in plan, plan
    # the only Window node runs over the already-limited (<=k) frame:
    # it must sit ABOVE the top-k cut in the plan text, not below it
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


class _Planned(Exception):
    """Raised by the capturing wrappers once a detrend frame is built."""


def _pipeline_detrend_plans(spark, root, monkeypatch, seq, prepare=None):
    """Executed plans of the detrend frames ``Pipeline.run`` and
    ``merge_changed`` build over sequences ``seq``, captured (and the
    stage stopped) before they run.  ``prepare(pipe)`` runs after the
    ingest."""
    from wotan_spark.spark import pipeline as pl
    plans = []

    def capture(fn):
        def wrapped(*args, **kwargs):
            plans.append(_plan(fn(*args, **kwargs)))
            raise _Planned
        return wrapped

    monkeypatch.setattr(pl, "detrend_sequences",
                        capture(pl.detrend_sequences))
    monkeypatch.setattr(pl, "detrend_rollup_fused",
                        capture(pl.detrend_rollup_fused))
    pipe = pl.Pipeline(spark, root,
                       pl.PipelineConfig(method="mean", window_length=17))
    pipe.ingest(seq, "r1")
    if prepare is not None:
        prepare(pipe)
    with pytest.raises(_Planned):
        pipe.run(run_id="r2")
    with pytest.raises(_Planned):
        pipe.merge_changed(seq.select("doc_id"), "r3")
    return plans


def _routed(plan: str) -> bool:
    """The plan carries the skew router's long branch: the chunk split,
    its (doc_id, chunk_id) salting exchange and the union with the packed
    branch."""
    return ("split(" in plan and "Union" in plan
            and "hashpartitioning(doc_id" in plan and "chunk_id" in plan)


def test_short_sequences_skip_the_long_branch(spark, tmp_path, monkeypatch):
    """File stats proving every row is short give both pipeline detrend
    frames the packed plan: no chunk split, no union.  Neither plan has
    an exchange: the merge selects its changed sequences with an in-set
    filter on the scan, not a semi-join."""
    seq = synth_sequences(spark, 8, median_len=100, max_len=200)
    run_plan, merge_plan = _pipeline_detrend_plans(
        spark, str(tmp_path / "p"), monkeypatch, seq)
    assert "Exchange" not in run_plan, run_plan
    assert "Exchange" not in merge_plan, merge_plan
    for plan in (run_plan, merge_plan):
        assert not any(s in plan for s in ("split(", "Union", "chunk_id")), \
            plan


def test_one_long_row_restores_the_long_branch(spark, tmp_path,
                                               monkeypatch):
    from wotan_spark.spark.detrend_op import AUTO_CHUNK_THRESHOLD
    from wotan_spark.spark.synth import SEQUENCES_SCHEMA
    n = AUTO_CHUNK_THRESHOLD + 1
    long_row = spark.createDataFrame(
        [("doc_long", [1_000_000] * n, n, "web")], SEQUENCES_SCHEMA)
    seq = synth_sequences(spark, 8, median_len=100, max_len=200) \
        .unionByName(long_row)
    plans = _pipeline_detrend_plans(spark, str(tmp_path / "p"),
                                    monkeypatch, seq)
    assert len(plans) == 2
    assert all(_routed(plan) for plan in plans), plans


def test_missing_file_stats_keep_the_long_branch(spark, tmp_path,
                                                 monkeypatch):
    def drop_stats(pipe):
        dirs = {os.path.dirname(p)
                for p in pipe.tables["sequences"].data_files()}
        assert dirs
        for d in dirs:
            os.remove(os.path.join(d, "_file_stats.json"))

    seq = synth_sequences(spark, 8, median_len=100, max_len=200)
    plans = _pipeline_detrend_plans(spark, str(tmp_path / "p"),
                                    monkeypatch, seq, prepare=drop_stats)
    assert len(plans) == 2
    assert all(_routed(plan) for plan in plans), plans


def _compaction_plans(spark, root, monkeypatch, cluster_by, target):
    """Executed plans of the frames ``compact()`` writes."""
    from pyspark.sql.readwriter import DataFrameWriter

    from wotan_spark.spark.lakehouse import SnapshotTable
    t = SnapshotTable(root)
    t.overwrite(spark.range(400).selectExpr("id as bucket", "id % 7 as y")
                .repartition(4))
    plans = []
    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        plans.append(_plan(self._df))
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    t.compact(spark, target_file_rows=target, cluster_by=cluster_by)
    monkeypatch.undo()
    assert t.read(spark).count() == 400
    return plans


@pytest.mark.parametrize("cluster_by", ["bucket", ["bucket", "y"]])
def test_one_file_compaction_sorts_without_exchange(spark, tmp_path,
                                                    monkeypatch, cluster_by):
    (plan,) = _compaction_plans(spark, str(tmp_path / "t"), monkeypatch,
                                cluster_by, 1_000)
    assert "Exchange" not in plan, plan
    assert "Sort [" in plan, plan


@pytest.mark.parametrize("cluster_by", ["bucket", ["bucket", "y"]])
def test_many_file_compaction_keeps_explicit_range_count(spark, tmp_path,
                                                         monkeypatch,
                                                         cluster_by):
    (plan,) = _compaction_plans(spark, str(tmp_path / "t"), monkeypatch,
                                cluster_by, 100)
    assert re.search(r"rangepartitioning\(.*, 4\), REPARTITION_BY_NUM",
                     plan), plan
