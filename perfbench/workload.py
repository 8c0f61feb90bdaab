"""The benchmark's workloads: set-up, closed-loop ops, checks, layer split.

One client drives the engine's public entry points from this process, in
a closed loop (the next op starts when the previous one returned):

1. set-up: start a ``local[nproc]`` session through ``session.get_spark``,
   ship the engine (``shipping.ensure_shipped``) and warm it with a
   build and the reads on a small corpus of the workload's shape, so the
   paths the build and the reads take (the chunk router on ``long``
   included) are loaded and compiled before anything is measured;
2. build: one fresh-root ``Pipeline.run`` over the seeded corpus (ingest
   -> detrended -> tier10 -> tier100 -> blocks), then its checks;
3. maintenance: one ``Pipeline.update_incremental`` of a late batch (new
   doc_ids mixed with re-delivered ones), then a read round;
4. retention: ``enforce_retention`` + ``compact_tables``, then another
   read round.

A read round is a tier10 range probe, a tier100 range probe and a
``decode_blocks`` of a doc sample.  Every op count is fixed, so what a
metric means does not depend on how fast the engine is.  Every output is
checked against values computed from the corpus.  The traced run is the
same run on a session with the UI on: right after the build it computes
each stage again from the committed tables and reads Spark's stage and
SQL metrics from the REST API.
"""

from __future__ import annotations

import gc
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import checks, corpus
from perfbench.trace import (RssSampler, SparkRest, Tracer, descendants,
                             sql_metric_total, stage_window)

HEAP = "2g"                 # JVM heap, fixed and pre-touched
HEAP_BYTES = 2 << 30
METHOD = "biweight"
WINDOW = 17.0
T10_PROBE = (2, 12)         # tier10 bucket range of the range probe
T100_PROBE = (0, 1)
DOC_SAMPLE = 8              # docs decoded by the blocks read
KERNEL_SAMPLE = 48          # series timed in-process for the kernel layer
MERGED = ("sequences", "tier10", "tier100")    # tables a merge rewrites
STAGES = ("sequences", "detrended", "tier10", "tier100", "blocks")

SHAPES = {
    # per-point work: ~127 series of lognormal length around 1,000 tokens
    # and one doc past the engine's chunk threshold, so the skew router
    # chunks and salts it
    "long": corpus.Shape(points=250_000, median_len=1000, sigma=0.8,
                         n_long=1, long_len=66_000),
    # per-series work: ~1,490 series of ~64 tokens (the sf0.1 events
    # shape), none near the chunk threshold
    "short": corpus.Shape(points=100_000, median_len=64, sigma=0.3,
                          max_len=1024),
}
# the set-up's warm-up corpora: the same shapes, small enough that the
# cold build on them costs little more than its compilation
WARM_SHAPES = {
    "long": corpus.Shape(points=76_000, median_len=1000, sigma=0.8,
                         n_long=1, long_len=66_000),
    "short": corpus.Shape(points=20_000, median_len=64, sigma=0.3,
                          max_len=1024),
}


def batch_shape(shape: corpus.Shape) -> corpus.Shape:
    """The late batch: 5% of the corpus points, no chunked docs."""
    return corpus.Shape(points=shape.points // 20,
                        median_len=shape.median_len, sigma=shape.sigma,
                        max_len=min(shape.max_len, 8 * shape.median_len))


class Run:
    """State of one benchmark run: session, corpus facts, samples."""

    def __init__(self, workload: str, seed: int, trace: bool, work: str,
                 cores: int):
        self.workload, self.seed = workload, seed
        self.work, self.cores = work, cores
        self.shape = SHAPES[workload]
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("setup", "build", "merge", "read", "read_round",
                            "retention")}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.digest = ("-", "-")               # tier10, tier100 of the build
        self.layer: dict[str, float] = {}
        self.phases: dict[str, float] = {}     # wall per phase, with checks
        self.rss = RssSampler()
        self.scratch = os.path.join(work, "run")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        cache = os.path.join(work, "corpus")
        docs = corpus.generate(seed, self.shape)
        self.corpus_path, self.corpus_info = corpus.cached_corpus(
            cache, workload, seed, self.shape, docs=docs)
        # one warm-up file per core: the warm-up spawns every Python worker
        self.warm_path, _ = corpus.cached_corpus(
            cache, f"warm-{workload}-{cores}", 0, WARM_SHAPES[workload],
            files=cores)
        # the corpus as generated, and what the tables must hold now
        self.corpus_docs = {corpus.doc_id(i): d for i, d in enumerate(docs)}
        self.docs = dict(self.corpus_docs)

    # -- session ---------------------------------------------------------
    def start_session(self, ui: bool) -> None:
        from wotan_spark.spark.session import get_spark
        from wotan_spark.spark.shipping import ensure_shipped
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.memory": HEAP,
            # a fixed, pre-touched heap: the JVM's share of peak RSS and its
            # GC pacing no longer depend on when it chose to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} "
                "-XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.port": "0",
        }
        self.spark = get_spark("perfbench", cores=self.cores,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        ensure_shipped(self.spark)

    def warm_up(self) -> None:
        """A fresh-root ``Pipeline.run`` over the workload's warm-up corpus
        (one file per core), unchecked, then one of each read: spawns the
        session's Python workers, imports the engine in them, and loads
        and compiles every stage's compute, parquet write, snapshot commit
        and lineage path, the chunk router's and the reads'.  A merge and
        retention are left out to keep a run short: a warm-up merge alone
        added ~9 s to the set-up on 4 cores."""
        from wotan_spark.spark.sources import read_sequences
        pl = self.pipeline(os.path.join(self.scratch, "warm"))
        pl.run(read_sequences(self.spark, self.warm_path), run_id="warm")
        self.probe(pl, "tier10", *T10_PROBE)
        self.probe(pl, "tier100", *T100_PROBE)
        self.decode(pl, [corpus.doc_id(i) for i in range(DOC_SAMPLE)])

    def set_up(self) -> None:
        """Once per run: a set-up costs a JVM launch and a cold warm-up,
        and a second one in the same process would be neither."""
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            # the traced run reads Spark's metrics from the UI's REST API
            self.start_session(ui=self.tracer.enabled)
        with self.tracer.span("session.warm"):
            self.warm_up()
        self.samples["setup"].append(time.perf_counter() - t0)
        self.phases["setup"] = self.samples["setup"][0]

    # -- ops -------------------------------------------------------------
    def settle(self) -> None:
        """Collect garbage in the JVM and in this process before a timed
        op, outside its timing, so that no op inherits the previous one's
        garbage and pays for a collection of it."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def op(self, kind: str, fn, *args):
        """Run one op: time it, count it, record a failure instead of
        raising.  ``fn`` returns (result, error list).  A failed op's wall
        is kept too, so a run with a failure still reports every metric
        (and ``correct`` false)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                result, errs = fn(*args)
        except Exception:                 # an op failure must not end the run
            result, errs = None, [traceback.format_exc()]
        wall = time.perf_counter() - t0
        if errs:
            self.failed += 1
            self.errors += [f"{kind}: {e}" for e in errs]
            print(f"FAILED {kind}: {errs[0]}", file=sys.stderr)
        if kind in self.samples:
            self.samples[kind].append(wall)
        return result

    def pipeline(self, root: str):
        from wotan_spark.spark.pipeline import Pipeline, PipelineConfig
        shutil.rmtree(root, ignore_errors=True)
        return Pipeline(self.spark, root,
                        PipelineConfig(method=METHOD, window_length=WINDOW))

    def build(self, pl, run_id: str):
        from wotan_spark.spark.sources import read_sequences
        return pl.run(read_sequences(self.spark, self.corpus_path),
                      run_id=run_id), []

    def merge(self, pl, path: str, run_id: str):
        from wotan_spark.spark.sources import read_sequences
        return pl.update_incremental(read_sequences(self.spark, path),
                                     run_id=run_id), []

    def make_batch(self) -> str:
        """The late batch: new doc_ids plus re-delivered (re-measured)
        ones; the docs dict is updated to what the tables must hold."""
        docs = corpus.generate(self.seed, batch_shape(self.shape), tag=1)
        n_redo = max(1, len(docs) // 5)
        base = sorted(self.docs)
        ids = [corpus.doc_id(10_000_000 + i)
               for i in range(len(docs) - n_redo)]
        ids += [base[j * 104729 % len(base)] for j in range(n_redo)]
        ids = list(dict.fromkeys(ids))
        docs = docs[:len(ids)]
        path = os.path.join(self.scratch, "batch")
        corpus.write_corpus(path, docs, ids=ids, files=1)
        self.docs.update(zip(ids, docs))
        return path

    # -- reads -----------------------------------------------------------
    def probe(self, pl, table: str, lo: int, hi: int):
        """sum(n) of the tier rows with ``lo <= bucket <= hi``."""
        import pyspark.sql.functions as F
        df = pl.tables[table].read(self.spark, where=("bucket", lo, hi))
        return int(df.agg(F.sum("n")).collect()[0][0] or 0), []

    def decode(self, pl, ids: list[str]):
        from wotan_spark.spark.blocks import decode_blocks
        rows = decode_blocks(pl.tables["blocks"].read(
            self.spark, where_in=("doc_id", ids))).collect()
        return rows, []

    def read_round(self, pl, t10_range: tuple[int, int]) -> None:
        """One of each read op; the round's wall (checks left out) is one
        ``read_round`` sample."""
        ids = self.sample_ids()
        reads = (("tier10", 10, t10_range), ("tier100", 100, T100_PROBE))
        wall = 0.0
        self.settle()
        for table, factor, (lo, hi) in reads:
            got = self.op("read", self.probe, pl, table, lo, hi)
            wall += self.samples["read"][-1]
            if got is not None:
                self.verify("probe", lambda: checks.check_equal(
                    f"{table} probe [{lo}, {hi}] sum(n)", got,
                    checks.expected_probe(self.docs, factor, lo, hi)))
        rows = self.op("read", self.decode, pl, ids)
        wall += self.samples["read"][-1]
        if rows is not None:
            self.verify("blocks", self.check_decoded, pl, ids, rows)
        self.samples["read_round"].append(wall)

    def sample_ids(self) -> list[str]:
        base = sorted(self.corpus_docs)
        return base[::max(1, len(base) // DOC_SAMPLE)][:DOC_SAMPLE]

    # -- checks ----------------------------------------------------------
    def verify(self, what: str, fn, *args) -> None:
        """An output check of the op just run: a failure fails that op."""
        try:
            errs = fn(*args)
        except Exception:
            errs = [traceback.format_exc()]
        if errs:
            self.failed += 1
            self.errors += [f"check {what}: {e}" for e in errs]
            print(f"FAILED check {what}: {errs[0]}", file=sys.stderr)

    def committed(self, pl, table: str, columns=None):
        """The table's current snapshot as pandas, read from its parquet
        files with pyarrow: the checks do not go through Spark."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        parts = [pq.read_table(f, columns=columns)
                 for f in pl.tables[table].data_files()]
        return pa.concat_tables(parts).to_pandas()

    def totals(self, pl, table: str) -> dict:
        df = self.committed(pl, table)
        out = {c: int(df[c].sum()) for c in ("n", "flat_n", "trend_n")}
        out["y_sum"] = float(df["y_sum"].sum())
        out["min_bucket"] = int(df["bucket"].min())
        out["digest"] = checks.digest(df)
        return out

    def valid_points(self, from_token: int = 0) -> int:
        return checks.valid_in_range(self.docs, from_token, 1 << 62)

    def check_build(self, pl, out: dict, run_id: str) -> list[str]:
        t10, t100 = self.totals(pl, "tier10"), self.totals(pl, "tier100")
        errs = checks.check_tiers(self.valid_points(), t10, t100)
        self.digest = (t10["digest"], t100["digest"])
        lineage = self.committed(pl, "lineage", ["run_id", "stage"])
        rows = lineage[lineage["run_id"] == run_id].groupby("stage").size()
        files = {stage: len(pl.tables[stage].data_files(sid))
                 for stage, sid in out.items()}
        return errs + checks.check_lineage(rows.to_dict(), files)

    def check_maintained(self, pl, cutoff: int = 0) -> list[str]:
        t10, t100 = self.totals(pl, "tier10"), self.totals(pl, "tier100")
        if cutoff == 0:
            return checks.check_tiers(self.valid_points(), t10, t100)
        # after retention tier10 holds the kept buckets, tier100 everything
        errs = checks.check_equal("tier10 sum(n) after retention", t10["n"],
                                  self.valid_points(cutoff * 10))
        if t10["min_bucket"] < cutoff:
            errs.append(f"tier10 keeps bucket {t10['min_bucket']} < {cutoff}")
        return errs + checks.check_equal("tier100 sum(n) after retention",
                                         t100["n"], self.valid_points())

    def check_decoded(self, pl, ids: list[str], rows) -> list[str]:
        det = self.committed(pl, "detrended", ["doc_id", "flat"])
        det = det[det["doc_id"].isin(ids)]
        flat = dict(zip(det["doc_id"], (list(f) for f in det["flat"])))
        blocks: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["doc_id"], r["block_id"])):
            blocks.setdefault(r["doc_id"], []).extend(r["values"])
        return checks.check_blocks(flat, blocks)

    # -- the timed run ---------------------------------------------------
    def measure(self, after_build=None) -> None:
        """One build, one merge on it, then retention, each followed by
        its checks; a read round after the merge (on merged, not yet
        compacted tables) and one after retention and compaction.  Each
        timed op and read round starts on collected heaps.
        ``after_build(pl, out, span)``, if given, runs right after the
        build's checks."""
        self.reset_heap_peak()
        t0 = time.perf_counter()
        pl = self.pipeline(os.path.join(self.scratch, "build"))
        self.settle()
        with self.tracer.span("pipeline.run") as s_run:
            out = self.op("build", self.build, pl, "build")
        if out is not None:
            self.verify("build", self.check_build, pl, out, "build")
        if after_build is not None:
            after_build(pl, out, s_run)
        t1 = time.perf_counter()
        self.phases["build"] = t1 - t0
        path = self.make_batch()
        before = data_file_set(pl, MERGED)
        self.settle()
        if self.op("merge", self.merge, pl, path, "merge") is not None:
            self.verify("merge", self.check_maintained, pl)
        self.layer["lakehouse.merge_mb_rewritten"] = sum(
            os.path.getsize(f)
            for f in data_file_set(pl, MERGED) - before) / 1e6
        self.read_round(pl, T10_PROBE)
        # pruning of the tier10 probe on the merged, not yet compacted table
        scan = pl.tables["tier10"].last_scan
        self.layer["lakehouse.files_read"] = float(scan["files_read"])
        self.layer["lakehouse.files_pruned"] = float(scan["files_pruned"])
        t2 = time.perf_counter()
        self.phases["merge"] = t2 - t1
        cutoff = self.retain(pl)
        self.read_round(pl, (cutoff, cutoff + T10_PROBE[1] - T10_PROBE[0]))
        self.phases["retention"] = time.perf_counter() - t2
        self.layer["jvm.heap_peak_mb"] = self.heap_peak_bytes() / 1e6

    # -- JVM heap --------------------------------------------------------
    def old_pools(self):
        """The JVM's heap pools that hold what survives young collections
        (G1 Old Gen, Tenured Gen, ...).  Eden fills to its size between
        collections whatever the work, so it is left out."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans()
                if p.getType().name() == "HEAP"
                and not any(w in p.getName() for w in ("Eden", "Survivor"))]

    def reset_heap_peak(self) -> None:
        for p in self.old_pools():
            p.resetPeakUsage()

    def heap_peak_bytes(self) -> int:
        """Peak use of the old-generation heap since the last reset."""
        return sum(p.getPeakUsage().getUsed() for p in self.old_pools())

    def retention_policy(self):
        from wotan_spark.spark.retention import RetentionPolicy
        max_bucket = max((len(d) - 1) // 10 for d in self.docs.values())
        keep = max(1, max_bucket // 2)
        return RetentionPolicy({"tier10": keep}), max_bucket - keep + 1

    def retain(self, pl) -> int:
        policy, cutoff = self.retention_policy()

        def apply():
            with self.tracer.span("retention.apply"):
                report = pl.enforce_retention(policy, run_id="retention")
            with self.tracer.span("retention.compact"):
                pl.compact_tables(run_id="compact")
            return report, checks.check_equal(
                "retention cutoff", report["tier10"]["cutoff"], cutoff)

        self.settle()
        report = self.op("retention", apply)
        if report is not None:
            self.layer["retention.rows_dropped"] = float(
                sum(r["dropped"] for r in report.values()))
            self.layer["retention.apply_s"] = self.tracer.total(
                "retention.apply")
            self.layer["retention.compact_s"] = self.tracer.total(
                "retention.compact")
            self.verify("retention", self.check_maintained, pl, cutoff)
        return cutoff

    # -- results ---------------------------------------------------------
    def end_to_end(self) -> dict:
        """Every end-to-end metric by name.  Each op but the reads ran
        once, so its metric is that op's wall."""
        s = self.samples
        (setup,), (build,), (merge,), (retention,) = (
            s["setup"], s["build"], s["merge"], s["retention"])
        return {
            "setup_s": setup,
            "build_s": build,
            "seq_per_s": self.corpus_info["docs"] / build,
            "merge_s": merge,
            # the mean of the round on merged tables and the round on
            # compacted ones; a round is two probes and a decode
            "read_s": statistics.fmean(s["read_round"]),
            "retention_s": retention,
            # the fixed, pre-touched JVM heap is left out: it is the same
            # in every run and would hide what the rest of the tree uses
            "peak_rss_mb": (self.rss.peak - HEAP_BYTES) / 1e6,
        }

    def digest_line(self) -> str:
        d10, d100 = self.digest
        return (f"digest workload={self.workload} seed={self.seed} "
                f"tier10={d10} tier100={d100}")

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until every process this
        run started has ended."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the launched JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                proc.terminate()
                proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        wait_for_children(30.0)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_for_children(10.0)


def wait_for_children(timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def data_file_set(pl, names) -> set[str]:
    return set().union(*(pl.tables[n].data_files() for n in names))


# -- the traced layer split ----------------------------------------------
def parquet_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


def kernel_sample(run: "Run") -> dict:
    """``detrend_series`` and the Gorilla codec in this process on one
    core, over a fixed sample of the corpus' series."""
    from wotan_spark.codecs import gorilla
    from wotan_spark.kernels.detrend import detrend_series
    from wotan_spark.spark.synth import decode_tokens
    names = sorted(run.corpus_docs)[::max(1, len(run.corpus_docs)
                                          // KERNEL_SAMPLE)]
    pts, k_s, enc_s, dec_s, nbytes = 0, 0.0, 0.0, 0.0, 0
    for name in names:
        y = decode_tokens(run.corpus_docs[name])
        t = np.arange(len(y), dtype=np.float64)
        t0 = time.perf_counter()
        flat = detrend_series(t, y, method=METHOD,
                              window_length=WINDOW).flatten_lc
        k_s += time.perf_counter() - t0
        pts += len(y)
        for b in range(0, len(flat), 4096):
            chunk = np.ascontiguousarray(flat[b:b + 4096])
            t0 = time.perf_counter()
            payload = gorilla.encode(chunk)
            t1 = time.perf_counter()
            gorilla.decode(payload)
            dec_s += time.perf_counter() - t1
            enc_s += t1 - t0
            nbytes += len(payload)
    ideal = k_s / pts * run.corpus_info["points"] / run.cores
    return {"kernels.pts_per_s": pts / k_s,
            "kernels.us_per_series": k_s / len(names) * 1e6,
            "kernels.ideal_s": ideal,
            "codecs.gorilla_enc_pts_per_s": pts / enc_s,
            "codecs.gorilla_dec_pts_per_s": pts / dec_s,
            "codecs.bytes_per_pt": nbytes / pts}


def traced_layers(run: "Run", pl, out: dict | None, s_run: dict) -> dict:
    """Layer split of the build just run (span ``s_run``) on a session
    with the UI on: each stage's compute again into a noop sink from the
    committed upstream table (a stage's lineage wall minus its compute is
    its commit), then Spark's stage and SQL metrics from the REST API.
    Fills ``run.layer`` and returns the raw Spark records for the trace
    file."""
    import pyspark.sql.functions as F
    from wotan_spark.spark.blocks import decode_blocks, encode_blocks
    from wotan_spark.spark.detrend_op import (AUTO_CHUNK_THRESHOLD,
                                              detrend_sequences_auto,
                                              split_chunks)
    from wotan_spark.spark.rollup import cascade_tier, rollup_tier10
    from wotan_spark.spark.sources import read_sequences

    spark, tr = run.spark, run.tracer
    stage_wall = {r["stage"]: r["w"] for r in (
        pl.tables["lineage"].read(spark).groupBy("stage")
        .agg(F.max("wall_time_s").alias("w")).collect())}

    def compute(name, df):
        with tr.span(name) as sp:
            df.write.format("noop").mode("overwrite").save()
        return sp

    seq = read_sequences(spark, run.corpus_path)
    with tr.span("scan") as s_scan:
        seq.agg(F.sum(F.size("tokens")), F.sum("n_tok")).collect()
    det = pl.tables["detrended"].read(spark)
    s_det = compute("detrend", detrend_sequences_auto(
        seq, method=METHOD, window_length=WINDOW, keep_tokens=True))
    s_t10 = compute("rollup.tier10", rollup_tier10(det))
    s_t100 = compute("rollup.cascade",
                     cascade_tier(pl.tables["tier10"].read(spark)))
    s_enc = compute("blocks.encode", encode_blocks(
        det.select("doc_id", "flat"), column="flat", codec="gorilla", tier=0))
    with tr.span("blocks.decode") as s_dec:
        decode_blocks(pl.tables["blocks"].read(
            spark, where_in=("doc_id", run.sample_ids()))).collect()
    chunked = split_chunks(seq.filter(F.col("n_tok") > AUTO_CHUNK_THRESHOLD),
                           AUTO_CHUNK_THRESHOLD, 0).count()
    compute_s = {"sequences": s_scan, "detrended": s_det, "tier10": s_t10,
                 "tier100": s_t100, "blocks": s_enc}

    rest = SparkRest(spark)
    stages, sql = rest.stages(), rest.sql()

    def window(span):
        return stage_window(stages, span["start"], span["end"])

    def total(in_stages, *keys):
        return sum(s.get(k, 0) for s in in_stages for k in keys)

    def py(span, metric):
        return sql_metric_total(sql, "MapInPandas", metric, span["start"],
                                span["end"])

    run_stages = window(s_run)
    wall = s_run["dur"]
    slow = max(run_stages, key=lambda s: s.get("executorRunTime", 0))
    q50, q100 = rest.task_quantiles(slow)
    k = kernel_sample(run)
    run.layer.update(k)
    run.layer.update({
        "session.start_s": tr.total("session.start"),
        "session.warm_s": tr.total("session.warm"),
        "scan.s": s_scan["dur"],
        "scan.mb": parquet_bytes(run.corpus_path) / 1e6,
        "detrend.stage_s": s_det["dur"],
        "detrend.py_run_s": py(s_det, "time to run Python workers"),
        "detrend.py_start_s": py(s_det, "time to start Python workers"),
        "detrend.py_sent_mb": py(s_det, "data sent to Python workers") / 1e6,
        "detrend.py_recv_mb":
            py(s_det, "data returned from Python workers") / 1e6,
        "detrend.chunked_rows": float(chunked),
        "detrend.shuffle_mb": total(window(s_det), "shuffleWriteBytes") / 1e6,
        "detrend.unattributed_s":
            s_det["dur"] - s_scan["dur"] - k["kernels.ideal_s"],
        "kernels.build_share": k["kernels.ideal_s"] / wall,
        "rollup.tier10_s": s_t10["dur"],
        "rollup.tier10_py_run_s": py(s_t10, "time to run Python workers"),
        "rollup.cascade_s": s_t100["dur"],
        "rollup.cascade_shuffle_mb":
            total(window(s_t100), "shuffleWriteBytes") / 1e6,
        "blocks.encode_s": s_enc["dur"],
        "blocks.decode_s": s_dec["dur"],
        "lakehouse.commit_s": sum(stage_wall.get(st, 0.0) - sp["dur"]
                                  for st, sp in compute_s.items()),
        "lakehouse.mb_written": parquet_bytes(pl.root) / 1e6,
        "pipeline.overhead_s":
            wall - sum(stage_wall.get(st, 0.0) for st in out or {}),
        "spark.core_util":
            total(run_stages, "executorRunTime") / 1e3 / (run.cores * wall),
        "spark.straggler_ratio": q100 / max(q50, 1.0),
        "spark.shuffle_mb": total(run_stages, "shuffleWriteBytes") / 1e6,
        "spark.gc_s": total(run_stages, "jvmGcTime") / 1e3,
        "spark.spill_mb":
            total(run_stages, "memoryBytesSpilled", "diskBytesSpilled") / 1e6,
        "trace.build_s": wall,
    })
    for st in STAGES:
        run.layer[f"pipeline.stage_s.{st}"] = float(stage_wall.get(st, 0.0))
    return {"stages": stages, "sql": sql}
