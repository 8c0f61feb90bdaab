#!/usr/bin/env python
"""Skew benchmark: a 500k-token doc in a 1k-token corpus must not pin one
task (north_rule: salted repartitioning for skewed long sequences).

Compares the plain packed detrend (one task owns the whole 500k-token doc)
against the same call with ``chunk_threshold=AUTO_CHUNK_THRESHOLD`` (long
rows overlap-chunked and salted across tasks), for both
``detrend_sequences`` and ``detrend_rollup_fused``, at a small core count
where the straggler dominates.  Prints one JSON line; paste results into
BENCH/BASELINE.md.

Usage: python scripts/bench_skew.py [n_base_docs] [n_skew_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SKEW_LENS = (500_000, 2_000_000)


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

    from wotan_spark.spark.detrend_op import (AUTO_CHUNK_THRESHOLD,
                                              detrend_rollup_fused,
                                              detrend_sequences)
    from wotan_spark.spark.session import get_spark
    from wotan_spark.spark.shipping import ensure_shipped
    from wotan_spark.spark.synth import SEQUENCES_SCHEMA, synth_sequences

    spark = get_spark(app_name="wotan-bench-skew", cores=cores,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)

    rng = np.random.default_rng(7)
    results = {}
    for skew_len in SKEW_LENS:
        base = synth_sequences(spark, n_base, median_len=1000, max_len=4000)
        toks = np.round(rng.normal(0, 100, skew_len)).astype(np.int32)
        skew = spark.createDataFrame(
            [("skew_0000", toks.tolist(), skew_len, "synthetic")],
            schema=SEQUENCES_SCHEMA)
        seq = base.unionByName(skew).repartition(cores, "doc_id").persist()
        seq.count()

        timings = {}
        for name, run in (
            ("packed_straggler",
             lambda: detrend_sequences(seq, method="biweight",
                                       window_length=17)),
            ("auto_chunked",
             lambda: detrend_sequences(seq, method="biweight",
                                       chunk_threshold=AUTO_CHUNK_THRESHOLD,
                                       window_length=17)),
            ("fused_rollup_straggler",
             lambda: detrend_rollup_fused(seq, "biweight",
                                          window_length=17)),
            ("fused_rollup_auto",
             lambda: detrend_rollup_fused(seq, "biweight",
                                          chunk_threshold=AUTO_CHUNK_THRESHOLD,
                                          window_length=17)),
        ):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                run().select("doc_id").count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
        seq.unpersist()
        timings["speedup"] = round(timings["packed_straggler"]
                                   / timings["auto_chunked"], 2)
        timings["fused_speedup"] = round(timings["fused_rollup_straggler"]
                                         / timings["fused_rollup_auto"], 2)
        results[f"skew_{skew_len}"] = timings

    print(json.dumps({
        "metric": "skew_doc_wall", "unit": "sec", "cpus": cores,
        "n_base_docs": n_base, **results}))
    spark.stop()


if __name__ == "__main__":
    main()
