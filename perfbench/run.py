"""Engine benchmark: one closed-loop client over the engine's entry points.

Run from the root of a checkout:

    python3 perfbench/run.py --workload long --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (and writes its spans and Spark records to
``.perfbench_work/trace-<workload>-s<seed>.json``).  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  Every file the run writes stays under ``.perfbench_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # op counts are fixed, so a run measures the same work at any
    # --seconds; the option stays part of the command line
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_environment() -> None:
    """Keep every temporary file of Python, py4j, the JVM and its workers
    inside the checkout, and one BLAS thread per task."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def result_line(run, values: dict, units: dict) -> str:
    return json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    })


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "wotan_spark")):
        print("perfbench: run from the root of a wotan_spark checkout",
              file=sys.stderr)
        return 2
    units = metric_units("per_layer" if args.trace else "end_to_end")
    isolate_environment()
    from perfbench import trace
    from perfbench.workload import SHAPES, Run, traced_layers
    if args.workload not in SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(SHAPES)}", file=sys.stderr)
        return 2

    cores = trace.nproc()
    host = trace.wait_for_quiet_host(max_wait_s=15.0)
    jiffies = trace.cpu_jiffies()
    print(f"host {json.dumps(host)}", file=sys.stderr)
    run = Run(args.workload, args.seed, bool(args.trace), WORK, cores)
    print(f"corpus {json.dumps(run.corpus_info, sort_keys=True)}",
          file=sys.stderr)
    records: dict = {}

    def layer_split(pl, out, span) -> None:
        records.update(traced_layers(run, pl, out, span))

    try:
        with run.rss:
            # a traced run is the same run with spans kept and the UI on,
            # plus the layer split right after the build
            run.set_up()
            run.measure(layer_split if args.trace else None)
            values = run.layer if args.trace else run.end_to_end()
        host["load1_after"] = trace.load1()
        host["cpu_shares"] = trace.cpu_shares(jiffies, trace.cpu_jiffies())
    finally:
        run.stop()
    samples = {k: [round(x, 3) for x in v] for k, v in run.samples.items()}
    print(f"host {json.dumps(host)}\nsamples_s {json.dumps(samples)}\n"
          f"phases_s {json.dumps(run.phases)}", file=sys.stderr)
    print(run.digest_line())
    if args.trace:
        path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host": host, "corpus": run.corpus_info,
                       "samples": run.samples,
                       "end_to_end": run.end_to_end(),
                       "layers": run.layer, "errors": run.errors,
                       "spans": run.tracer.spans, **records}, f)
        print(f"trace written to {os.path.relpath(path, ROOT)}",
              file=sys.stderr)
    print(result_line(run, values, units))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main(sys.argv[1:])
    print(f"perfbench wall {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
