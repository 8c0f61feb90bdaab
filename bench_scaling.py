#!/usr/bin/env python
"""Throughput scaling evidence: same job at N and 4N parallelism.

The sandbox host's deliverable CPU drifts over time (shared hypervisor), so
each efficiency sample comes from an *adjacent-in-time* pair of runs — a
fresh N session immediately followed by a fresh 4N session — and the
reported efficiency is the median over rounds.

Two modes (WOTAN_SCALE_MODE):
* ``threads`` (default) — local[N] vs local[4N]: one executor, N vs 4N task
  threads.
* ``executors`` — local-cluster[N, C, M] vs local-cluster[4N, C, M]: REAL
  executor JVMs (each C=WOTAN_SCALE_EXEC_CORES cores), the N-vs-4N-executor
  shape the BASELINE gate names; closest a single box gets to a cluster.

When a pair's median efficiency lands below the 0.8 gate, the record also
carries a measured same-host NON-SPARK ceiling: the identical biweight
kernel run in N vs 4N plain multiprocessing workers (no JVM, no shuffle).
If the ceiling itself is below the gate the host's memory bandwidth — not
the engine — is the limiter, and the pair must be re-proven on real
hardware before quoting the gate at that width.

Job: fused detrend(biweight, W=17) + tier-10 rollup + tier-100 cascade over
a deterministic 10k-sequence parquet corpus (lognormal lengths, heavy tail).

Env: WOTAN_SCALE_DOCS (10000), WOTAN_SCALE_N ("8"), WOTAN_SCALE_ROUNDS (3),
WOTAN_SCALE_REPS (2: reps within a session, min taken),
WOTAN_SCALE_JOB ("rollup"; "pack" runs fixed-context sequence packing),
WOTAN_SCALE_MODE ("threads"|"executors"), WOTAN_SCALE_EXEC_CORES (4),
WOTAN_SCALE_CEILING ("auto"|"always"|"never").
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

for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(var, "1")


def corpus_path(n_docs: int) -> str:
    path = f"/tmp/wotan_scale_corpus_{n_docs}"
    if not os.path.exists(path):
        from wotan_spark.spark.session import get_spark
        from wotan_spark.spark.synth import synth_sequences
        spark = get_spark(app_name="scale-gen", cores=32)
        spark.sparkContext.setLogLevel("ERROR")
        synth_sequences(spark, n_docs, median_len=1000, max_len=20000,
                        partitions=128).write.mode("overwrite").parquet(path)
        spark.stop()
    return path


def run_level(path: str, level: int, reps: int,
              job_name: str = "rollup", mode: str = "threads",
              exec_cores: int = 4) -> float:
    from wotan_spark.spark.session import get_spark
    if mode == "executors":
        # level = number of executor JVMs, each exec_cores cores
        cores = level * exec_cores
        spark = get_spark(
            app_name=f"scale-{level}x{exec_cores}", cores=cores,
            shuffle_partitions=cores,
            master=f"local-cluster[{level},{exec_cores},4096]",
            extra_conf={"spark.executor.memory": "3g"})
    else:
        cores = level
        spark = get_spark(app_name=f"scale-{cores}", cores=cores,
                          shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    seq = spark.read.parquet(path)

    if job_name == "pack":
        from wotan_spark.spark.packing import pack_sequences

        def job():
            # the full operator per rep: offset collect, checkpoint,
            # segment shuffle, chunk reassembly
            pack_sequences(seq, 1024).count()
    else:
        from wotan_spark.spark.detrend_op import detrend_rollup_fused
        from wotan_spark.spark.rollup import cascade_tier

        def job():
            cascade_tier(detrend_rollup_fused(seq, "biweight",
                                              window_length=17)).count()

    job()  # warm: codegen + worker spawn
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        job()
        best = min(best, time.perf_counter() - t0)
    spark.stop()
    return best


def _ceiling_worker(iters: int, q) -> None:
    import numpy as np

    from wotan_spark.kernels.robust import m_location_2d
    rng = np.random.default_rng(7)
    x = rng.standard_normal((2048, 51))
    t0 = time.perf_counter()
    for _ in range(iters):
        m_location_2d(x, 5.0, "biweight")
    q.put(time.perf_counter() - t0)


def numpy_ceiling(n_lo: int, n_hi: int, iters: int = 40) -> dict:
    """Same-host NON-SPARK scaling ceiling: the engine's own biweight
    kernel in plain multiprocessing workers (one NumPy thread each,
    fixed per-worker work).  Perfect scaling = equal wall time at both
    widths, so efficiency = wall_lo / wall_hi — anything the host loses
    here is memory bandwidth / hypervisor, not engine overhead."""
    import multiprocessing as mp

    def run(n: int) -> float:
        ctx = mp.get_context("spawn")
        q = ctx.Queue()
        procs = [ctx.Process(target=_ceiling_worker, args=(iters, q))
                 for _ in range(n)]
        t0 = time.perf_counter()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        return time.perf_counter() - t0

    run(min(n_lo, 2))   # warm the spawn/import path
    w_lo, w_hi = run(n_lo), run(n_hi)
    return {"n_lo": n_lo, "n_hi": n_hi,
            "wall_lo": round(w_lo, 3), "wall_hi": round(w_hi, 3),
            "efficiency": round(w_lo / w_hi, 3)}


def main() -> None:
    n_docs = int(os.environ.get("WOTAN_SCALE_DOCS", "10000"))
    levels = [int(x) for x in os.environ.get("WOTAN_SCALE_N", "8").split(",")]
    rounds = int(os.environ.get("WOTAN_SCALE_ROUNDS", "3"))
    reps = int(os.environ.get("WOTAN_SCALE_REPS", "2"))
    # seconds to idle before each round so the 1-min load average sheds the
    # previous round's own sessions — keeps the pre-round stamp an honest
    # external-contention reading
    cooldown = int(os.environ.get("WOTAN_SCALE_COOLDOWN", "0"))
    job_name = os.environ.get("WOTAN_SCALE_JOB", "rollup")
    if job_name not in ("rollup", "pack"):
        raise ValueError(f"WOTAN_SCALE_JOB must be rollup|pack, "
                         f"got {job_name!r}")
    mode = os.environ.get("WOTAN_SCALE_MODE", "threads")
    if mode not in ("threads", "executors"):
        raise ValueError(f"WOTAN_SCALE_MODE must be threads|executors, "
                         f"got {mode!r}")
    exec_cores = int(os.environ.get("WOTAN_SCALE_EXEC_CORES", "4"))
    ceiling = os.environ.get("WOTAN_SCALE_CEILING", "auto")
    path = corpus_path(n_docs)

    out = {"docs": n_docs, "job": job_name, "mode": mode, "rounds": []}
    if mode == "executors":
        out["exec_cores"] = exec_cores
    for n in levels:
        effs = []
        for _ in range(rounds):
            if cooldown:
                time.sleep(cooldown)
            load_pre = [round(x, 2) for x in os.getloadavg()]
            w_lo = run_level(path, n, reps, job_name, mode, exec_cores)
            w_hi = run_level(path, 4 * n, reps, job_name, mode, exec_cores)
            eff = (w_lo / w_hi) / 4.0
            effs.append(eff)
            out["rounds"].append({
                "n": n, "wall_n": round(w_lo, 3), "wall_4n": round(w_hi, 3),
                "tput_n": round(n_docs / w_lo, 1),
                "tput_4n": round(n_docs / w_hi, 1),
                "efficiency": round(eff, 3),
                # pre-round external load (our own sessions are torn down
                # between rounds; 1-min avg still carries some tail of the
                # previous round's own work)
                "load_avg_pre": load_pre,
            })
        med = statistics.median(effs)
        out[f"efficiency_{n}_to_{4*n}_median"] = round(med, 3)
        out[f"efficiency_{n}_to_{4*n}_best"] = round(max(effs), 3)
        # a below-gate pair must carry the same-host non-Spark ceiling so
        # the record distinguishes host bandwidth from engine overhead
        if ceiling == "always" or (ceiling == "auto" and med < 0.8):
            cores_lo = n * exec_cores if mode == "executors" else n
            out[f"numpy_ceiling_{n}_to_{4*n}"] = numpy_ceiling(
                cores_lo, 4 * cores_lo)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
