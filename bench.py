#!/usr/bin/env python
"""Headline benchmark: one JSON line with per-query wall times.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     WOTAN_BENCH_DOCS (override synth corpus size).

Load gate: before Spark starts, the bench waits up to LOAD_WAIT_S for the
1-minute load average to fall to MAX_LOAD1 or below.  If it does not, it
prints a JSON line with ``"refused": true`` and the load, and exits 1:
numbers taken on a busy shared host are not comparable.  The load is
stamped either way.

Covers the engine's hot paths: packed robust detrend (biweight), packed
mean detrend, tier rollup + cascade, gap-fill interpolation, MinHash LSH
dedup, cosine top-k, slide clip, plus a synthesized-corpus full pipeline
(detrend -> tier10 -> tier100) reporting sequences/sec — the metric in
BASELINE.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

MAX_LOAD1 = 2.0
LOAD_WAIT_S = 300.0


def wait_for_load(max_load: float, max_wait_s: float) -> tuple[bool, float]:
    """Bounded wait for the 1-min load to fall to ``max_load``; returns
    (quiet, seconds waited)."""
    t0 = time.monotonic()
    while os.getloadavg()[0] > max_load:
        waited = time.monotonic() - t0
        if waited >= max_wait_s:
            return False, round(waited, 1)
        time.sleep(min(5.0, max_wait_s - waited))
    return True, round(time.monotonic() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0
    # gate and stamp BEFORE Spark starts: the 1-min load here is
    # pre-existing host contention, not our own executors
    quiet, waited = wait_for_load(MAX_LOAD1, LOAD_WAIT_S)
    load_start = [round(x, 2) for x in os.getloadavg()]
    if not quiet:
        print(json.dumps({"metric": "headline_queries_total_wall",
                          "refused": True, "max_load1": MAX_LOAD1,
                          "load_wait_s": waited,
                          "load_avg_start": load_start}))
        sys.exit(1)

    import __spark_entry__ as entrymod
    from wotan_spark.spark.detrend_op import detrend_rollup_fused
    from wotan_spark.spark.rollup import cascade_tier
    from wotan_spark.spark.session import get_spark
    from wotan_spark.spark.shipping import ensure_shipped
    from wotan_spark.spark.synth import synth_sequences

    spark = get_spark(app_name="wotan-bench", cores=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)

    q = entrymod.queries()
    timings: dict[str, float] = {}

    # warm the JVM + python workers once (excluded from timings)
    q["tier10_rollup"](spark, sf_dir).count()

    # ngram dedup benches the prefix-filtered (PPJoin) variant: identical
    # exact output to the unfiltered pass (shared oracle), ~half the cost —
    # it is the at-scale path
    headline = ["detrend_biweight_packed", "detrend_mean_packed",
                "tier10_rollup", "tier100_cascade", "gapfill_interp",
                "median_slider_rows", "minhash_lsh_pairs", "cosine_topk",
                "slide_clip_packed", "ngram_jaccard_prefix",
                "pricing_summary"]
    # median-of-reps with per-rep samples recorded: this shared host drifts
    # 2-3x run to run, so a single number per query is not adjudicable —
    # the medians are the headline, the rep lists + load averages are the
    # variance evidence
    reps = int(os.environ.get("WOTAN_BENCH_REPS", "3"))
    rep_samples: dict[str, list[float]] = {}
    for name in headline:
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            q[name](spark, sf_dir).count()
            samples.append(round(time.perf_counter() - t0, 3))
        rep_samples[name] = samples
        # statistics.median averages the middle pair for even rep counts
        # (indexing the upper-middle would report a max as a "median" at
        # reps=2)
        timings[name] = round(statistics.median(samples), 3)

    # synthesized tokenized corpus: fused detrend+tier10 -> tier100 cascade
    n_docs = int(os.environ.get("WOTAN_BENCH_DOCS", max(int(sf * 20000), 200)))
    seq = synth_sequences(spark, n_docs, median_len=1000, max_len=20000)
    seq = seq.persist()
    n_seq = seq.count()  # materialize input outside the timed region
    t0 = time.perf_counter()
    t10 = detrend_rollup_fused(seq, "biweight", window_length=17)
    cascade_tier(t10).count()
    pipeline_sec = time.perf_counter() - t0
    seq.unpersist()
    timings["pipeline_synth"] = round(pipeline_sec, 3)
    seq_per_sec = round(n_seq / pipeline_sec, 2)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "synth_docs": n_seq,
        "sequences_per_sec": seq_per_sec,
        "cpus": cpus,
        "reps": reps,
        "rep_samples": rep_samples,
        "refused": False,
        "max_load1": MAX_LOAD1,
        "load_wait_s": waited,
        "load_avg_start": load_start,
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
