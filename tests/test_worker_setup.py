"""Worker set-up: once the engine is imported in a Spark Python worker, a
task's ``importlib.invalidate_caches()`` re-reads no unchanged zip, and
a rebuilt zip is still re-read, so code shipped later is never stale."""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.core.files import SparkFiles

from wotan_spark._worker_setup import _stamp_zip_rereads
from wotan_spark.spark.shipping import ensure_shipped


def _run_in_workers(spark, task, schema, tasks):
    """``task()`` once per partition, through ``mapInPandas`` (SQL Python
    UDFs run in their own worker pool, apart from RDD workers)."""
    def run(batches):
        for _ in batches:
            pass
        yield pd.DataFrame([task()])

    ensure_shipped(spark)
    df = spark.range(tasks, numPartitions=tasks)
    return df.mapInPandas(run, schema).toPandas()


def test_invalidate_caches_is_cheap_from_a_workers_second_task(spark):
    def timed():
        warm = "wotan_spark" in sys.modules   # an earlier task imported it
        import wotan_spark  # noqa: F401
        t = time.perf_counter()
        importlib.invalidate_caches()
        return {"pid": os.getpid(), "warm": warm,
                "ms": (time.perf_counter() - t) * 1e3}

    got = _run_in_workers(spark, timed, "pid long, warm boolean, ms double",
                          tasks=16)
    assert got["pid"].value_counts().max() >= 2, got
    warm = got[got["warm"]]
    assert len(warm) >= 2, got
    assert (warm["ms"] < 5.0).all(), got.sort_values("ms").to_string()


def test_a_rebuilt_zip_is_reread(spark, tmp_path):
    where = str(tmp_path / "shipped.zip")

    def rebuild_and_import():
        import wotan_spark  # noqa: F401

        def build(mods):
            with zipfile.ZipFile(where + ".tmp", "w") as z:
                for m in mods:
                    z.writestr(f"{m}.py", f"NAME = {m!r}\n")
            os.replace(where + ".tmp", where)

        build(["shipped_a"])
        sys.path.insert(0, where)
        try:
            first = importlib.import_module("shipped_a").NAME
            importlib.invalidate_caches()      # archive unchanged
            build(["shipped_a", "shipped_b"])  # new mtime, size and inode
            importlib.invalidate_caches()
            second = importlib.import_module("shipped_b").NAME
        finally:
            sys.path.remove(where)
            sys.path_importer_cache.pop(where, None)
            sys.modules.pop("shipped_a", None)
            sys.modules.pop("shipped_b", None)
        return {"first": first, "second": second}

    got = _run_in_workers(spark, rebuild_and_import,
                          "first string, second string", tasks=1)
    assert got.to_dict("records") == [{"first": "shipped_a",
                                       "second": "shipped_b"}]


OLD_PY = pytest.mark.skipif(sys.version_info >= (3, 12),
                            reason="CPython 3.12 re-reads lazily; "
                                   "nothing is installed")


@pytest.fixture
def in_worker(monkeypatch):
    """Look like a Spark Python worker; put the stock method back after."""
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    return zipimport.zipimporter


@OLD_PY
def test_install_only_in_workers_before_312_and_once(in_worker, monkeypatch):
    stock = in_worker.invalidate_caches
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 12, 0))
        _stamp_zip_rereads()
    assert in_worker.invalidate_caches is stock
    with monkeypatch.context() as m:
        m.setattr(SparkFiles, "_is_running_on_worker", False)
        _stamp_zip_rereads()
    assert in_worker.invalidate_caches is stock      # not a worker

    _stamp_zip_rereads()
    wrapped = in_worker.invalidate_caches
    assert wrapped is not stock
    _stamp_zip_rereads()
    assert in_worker.invalidate_caches is wrapped    # not wrapped twice


@OLD_PY
def test_rereads_follow_the_archive_stamp(in_worker, monkeypatch, tmp_path):
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    _stamp_zip_rereads()
    where = str(tmp_path / "a.zip")
    with zipfile.ZipFile(where, "w") as z:
        z.writestr("a.py", "")
    imp = zipimport.zipimporter(where)
    reads.clear()

    imp.invalidate_caches()       # first call: no stamp yet, reads
    imp.invalidate_caches()       # unchanged: no read
    assert reads == [where]
    with zipfile.ZipFile(where, "a") as z:
        z.writestr("b.py", "")
    imp.invalidate_caches()       # new size: reads again
    assert reads == [where, where] and "b.py" in imp._files

    (tmp_path / "a.zip").rename(tmp_path / "away.zip")
    imp.invalidate_caches()       # stat fails: the stock method runs
    assert imp._files == {}
    (tmp_path / "away.zip").rename(tmp_path / "a.zip")
    imp.invalidate_caches()       # back with its old stamp: reads again
    assert sorted(imp._files) == ["a.py", "b.py"]
