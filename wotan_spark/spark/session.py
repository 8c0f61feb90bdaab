"""SparkSession construction with the engine's scale-oriented defaults.

The same settings are what a cluster deployment would pass to
``spark-submit --py-files engine.zip``: AQE on (runtime coalescing + skew
splitting), Arrow transfer for pandas UDFs, and a shuffle-partition count
sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "wotan-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None,
              master: str | None = None) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — e.g.
    ``local-cluster[4,4,4096]`` spawns real executor JVMs for
    executor-scaling evidence (bench_scaling.py mode=executors); ``cores``
    then still sizes shuffle partitions."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # generous Arrow batches: one batch amortizes Python worker startup
        # across many series rows
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # one core per task: numpy BLAS threads inside a worker would fight
        # the executor's own task parallelism
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    if (master or "").startswith("local-cluster"):
        # real executor JVMs spawn their own Python workers, which do not
        # inherit the driver's sys.path — ship the engine's import root the
        # way `spark-submit --py-files` would on a cluster (ONE definition
        # of the import root, shared with the pyfiles zip builder)
        from wotan_spark.spark.shipping import _REPO as repo_root
        pythonpath = os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
        builder = builder.config("spark.executorEnv.PYTHONPATH", pythonpath)
    # see shipping.EXCLUDED_OPTIMIZER_RULES: InferFiltersFromGenerate
    # re-evaluates computed explode arrays 2 extra times per row
    from wotan_spark.spark.shipping import (EXCLUDED_OPTIMIZER_RULES,
                                            LISTING_THRESHOLD,
                                            RANGE_SAMPLE_PER_PARTITION)
    builder = builder.config("spark.sql.optimizer.excludedRules",
                             EXCLUDED_OPTIMIZER_RULES)
    builder = builder.config(*RANGE_SAMPLE_PER_PARTITION)
    builder = builder.config(*LISTING_THRESHOLD)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
