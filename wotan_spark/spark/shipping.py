"""Ship the engine package to executor Python workers.

On a cluster this is ``spark-submit --py-files engine.zip``; for driver
processes that created their own SparkSession (the graft driver, notebooks),
``ensure_shipped`` reproduces the same thing at runtime: zip the package
once and ``addPyFile`` it so UDF deserialization can import ``wotan_spark``
on every worker regardless of the driver's working directory.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# in-process cache of the built zip path: an on-disk exists() check keyed
# by pid reused a STALE zip when a recycled pid found an old process's
# file after the source tree changed — silent driver/worker version skew
_ZIP_PATH: str | None = None


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip wotan_spark for --py-files / addPyFile.  Built once per PROCESS
    (module-global cache) so the shipped code is always the code this
    driver imported."""
    global _ZIP_PATH
    if dest is None:
        if _ZIP_PATH is not None and os.path.exists(_ZIP_PATH):
            return _ZIP_PATH
        dest = os.path.join(tempfile.gettempdir(),
                            f"wotan_spark_pyfiles_{os.getpid()}.zip")
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        pkgroot = os.path.join(_REPO, "wotan_spark")
        for dirpath, _, files in os.walk(pkgroot):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, _REPO))
    os.replace(tmp, dest)
    _ZIP_PATH = dest
    return dest


# InferFiltersFromGenerate synthesizes `size(arr) > 0 AND isnotnull(arr)`
# from every explode and pushes it to the scan — for the engine's computed
# shingle/gram arrays that re-evaluates the whole array-construction
# expression two extra times per row (measured 5x on the shingle subtree).
# The rule only ever ADDS redundant filters (explode already drops empty
# arrays), so excluding it is always semantics-preserving.
EXCLUDED_OPTIMIZER_RULES = \
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
# Rows sampled per output partition for range-exchange bounds (Spark: 100).
# Compaction cuts its files with repartitionByRange; at 100 the bounds move
# from run to run, so the same table compacts to different files.  At 1,000
# a table of up to ~3,000 rows per output file is sampled whole (exact,
# repeatable bounds), and a larger one is still only sampled.
RANGE_SAMPLE_PER_PARTITION = (
    "spark.sql.execution.rangeExchange.sampleSizePerPartition", "1000")
# Paths a scan lists on the driver before Spark lists them in a distributed
# job, one task per path (Spark: 32).  A snapshot read hands Spark one path
# per data dir, so a table appended to more than 32 times between
# compactions paid that job on every read.  Planning a read over 33 / 256 /
# 1,024 local dirs (4-core VM, median of 6) took 0.52 / 1.55 / 5.0 s with
# the job and 0.06 / 0.09 / 0.23 s listed on the driver.
LISTING_THRESHOLD = (
    "spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")


def tune_session(spark: SparkSession) -> None:
    """Runtime-settable engine tuning for sessions the engine did not
    build (the graft driver, notebooks) — get_spark sets the same."""
    try:
        spark.conf.set("spark.sql.optimizer.excludedRules",
                       EXCLUDED_OPTIMIZER_RULES)
        spark.conf.set(*RANGE_SAMPLE_PER_PARTITION)
        spark.conf.set(*LISTING_THRESHOLD)
    except Exception:
        pass  # conf locked down: plans stay correct, just slower
    try:
        # epoch arithmetic in the oracle twins assumes UTC timestamp casts;
        # a non-UTC host session would shift every unix_micros() vs DuckDB
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass


def ensure_shipped(spark: SparkSession) -> None:
    tune_session(spark)
    sc = spark.sparkContext
    # applicationId, not id(sc): a new context reusing a GC'd context's
    # memory address would silently skip addPyFile and every pandas-UDF
    # task on the new session would die with ModuleNotFoundError
    key = sc.applicationId
    if key in _SHIPPED:
        return
    sc.addPyFile(build_pyfiles_zip())
    _SHIPPED.add(key)
