"""Concurrent-writer torture (round-5 verdict item 7): the documented
single-writer contract is enforced by the O_EXCL snapshot publish — a
second writer racing the same snapshot id must lose LOUDLY
(FileExistsError), never silently clobber the winner's manifest.

Pure file-protocol tests: ``_write_data`` is stubbed (the race lives in
``_next_sid`` + ``_commit``'s tmp+link publish, not in Spark), so the
torture loop can hammer the metadata path with real threads."""

from __future__ import annotations

import json
import os
import threading
import uuid

import pytest

from wotan_spark.spark.lakehouse import SnapshotTable


def _stub_write_data(table: SnapshotTable, payload: str) -> str:
    d = os.path.join(table.root, "data", uuid.uuid4().hex)
    os.makedirs(d)
    with open(os.path.join(d, "part-0.txt"), "w") as f:
        f.write(payload)
    return d


def _commit_stub(table: SnapshotTable, payload: str, **meta) -> int:
    """append() without Spark: identical metadata path."""
    d = _stub_write_data(table, payload)
    parent = table.current_snapshot_id()
    manifests = (table._as_manifest_list(parent)
                 if parent is not None else [])
    return table._commit(manifests + [table._write_manifest([d])],
                         meta, parent)


def test_forced_sid_collision_loses_loudly(tmp_path):
    """Deterministic collision: two writers allocated the SAME snapshot
    id (the worst interleaving of two racing ``_next_sid`` calls).  The
    first publish wins; the second raises instead of clobbering."""
    root = str(tmp_path / "t")
    w1, w2 = SnapshotTable(root), SnapshotTable(root)
    sid_holder = {"sid": 7}
    w1._next_sid = lambda: sid_holder["sid"]          # type: ignore
    w2._next_sid = lambda: sid_holder["sid"]          # type: ignore
    s1 = _commit_stub(w1, "writer-1", writer=1)
    assert s1 == 7
    with pytest.raises(FileExistsError):
        _commit_stub(w2, "writer-2", writer=2)
    # the winner's manifest is untouched by the loser's attempt
    m = w1._manifest(7)
    assert m["meta"]["writer"] == 1
    with open(os.path.join(m["files"][0], "part-0.txt")) as f:
        assert f.read() == "writer-1"


def test_torture_many_threads_no_silent_clobber(tmp_path):
    """8 threads x 6 commits against one table root, all starting on a
    barrier.  Every attempt either wins or raises FileExistsError; every
    published snapshot id is unique, carries exactly one writer's
    payload, and the HEAD chain walks without gaps."""
    root = str(tmp_path / "t")
    n_threads, n_commits = 8, 6
    results: list[tuple[int, int, int]] = []      # (thread, i, sid)
    losses: list[tuple[int, int]] = []
    errors: list[BaseException] = []
    barrier = threading.Barrier(n_threads)
    lock = threading.Lock()

    def worker(tid: int) -> None:
        table = SnapshotTable(root)
        barrier.wait()
        for i in range(n_commits):
            try:
                sid = _commit_stub(table, f"w{tid}-{i}",
                                   writer=tid, seq=i)
                with lock:
                    results.append((tid, i, sid))
            except FileExistsError:
                with lock:
                    losses.append((tid, i))
            except BaseException as e:            # pragma: no cover
                with lock:
                    errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,))
               for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(results) + len(losses) == n_threads * n_commits
    # winners' sids are unique, and each published manifest carries
    # exactly the payload of the writer that claims the win
    sids = [sid for _t, _i, sid in results]
    assert len(sids) == len(set(sids))
    table = SnapshotTable(root)
    for tid, i, sid in results:
        m = table._manifest(sid)
        assert m["meta"] == {"writer": tid, "seq": i}
        with open(os.path.join(m["files"][-1], "part-0.txt")) as f:
            assert f.read() == f"w{tid}-{i}"
    # the HEAD chain is walkable end to end (no dangling parents) and
    # every chain member is a recorded winner
    head = table.current_snapshot_id()
    assert head in set(sids)
    chain = table.snapshots()
    assert chain[-1]["snapshot_id"] == head
    assert {m["snapshot_id"] for m in chain} <= set(sids)
    # losers left no snapshot file behind
    on_disk = {int(fn[len("snapshot-"):-len(".json")])
               for fn in os.listdir(table.manifest_dir)
               if fn.startswith("snapshot-")}
    assert on_disk == set(sids)
