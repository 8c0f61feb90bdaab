"""Snapshot pointers: ``HEAD`` and ``NEXT_SID`` are symlinks swapped by
rename, so no commit renames a data-holding file over an existing name
(on ext4 that rename forces a writeback of the file first).  Tables whose
pointers are regular files, written before the change, still open and
commit.

Pure file-protocol tests: ``_write_data`` is stubbed with the helpers of
``test_concurrent_writers.py``, so no Spark is needed."""

from __future__ import annotations

import json
import os
import stat

import pytest

from tests.test_concurrent_writers import _commit_stub as _append
from tests.test_concurrent_writers import _stub_write_data
from wotan_spark.spark import lakehouse
from wotan_spark.spark.lakehouse import SnapshotTable


def _overwrite(table: SnapshotTable, payload: str, **meta) -> int:
    """``overwrite()``'s metadata path without Spark."""
    d = _stub_write_data(table, payload)
    return table._commit([table._write_manifest([d])], meta,
                         table.current_snapshot_id())


@pytest.fixture()
def renames(monkeypatch):
    """Every ``os.rename``/``os.replace`` the lakehouse makes, as
    (basename of the destination, whether a regular file moved onto an
    existing name)."""
    seen: list[tuple[str, bool]] = []

    def recording(real):
        def call(src, dst, *args, **kwargs):
            file_over = (stat.S_ISREG(os.lstat(src).st_mode)
                         and os.path.lexists(dst))
            seen.append((os.path.basename(dst), file_over))
            return real(src, dst, *args, **kwargs)
        return call

    monkeypatch.setattr(lakehouse.os, "rename", recording(os.rename))
    monkeypatch.setattr(lakehouse.os, "replace", recording(os.replace))
    return seen


def test_no_commit_renames_a_file_over_an_existing_name(tmp_path, renames):
    t = SnapshotTable(str(tmp_path / "t"))
    _overwrite(t, "a")
    _append(t, "b")
    _append(t, "c")
    last = _overwrite(t, "d")
    commits = 4

    assert [name for name, file_over in renames if file_over] == []
    # each commit moved each pointer once, as a symlink
    assert sum(name == "HEAD" for name, _ in renames) == commits
    assert sum(name == "NEXT_SID" for name, _ in renames) == commits
    for name in ("HEAD", "NEXT_SID"):
        assert os.path.islink(os.path.join(t.manifest_dir, name))
    assert int(os.readlink(os.path.join(t.manifest_dir, "HEAD"))) == last
    # no temp file is left behind
    assert not [fn for fn in os.listdir(t.manifest_dir)
                if fn.startswith(".tmp")]


def test_legacy_regular_file_pointers_still_open_and_commit(tmp_path):
    """A chain 0 <- 1 <- 2 <- 3 whose HEAD and NEXT_SID were written as
    regular files holding the id."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    for sid in range(4):
        d = _stub_write_data(t, f"v{sid}")
        with open(os.path.join(t.manifest_dir,
                               f"snapshot-{sid}.json"), "w") as f:
            json.dump({"snapshot_id": sid,
                       "parent": sid - 1 if sid else None,
                       "files": [d], "committed_at": 0.0, "meta": {}}, f)
    for name, value in (("HEAD", "3"), ("NEXT_SID", "4")):
        with open(os.path.join(t.manifest_dir, name), "w") as f:
            f.write(value)

    t = SnapshotTable(root)
    assert t.current_snapshot_id() == 3
    assert [m["snapshot_id"] for m in t.snapshots()] == [0, 1, 2, 3]
    assert _append(t, "v4") == 4
    for name, value in (("HEAD", 4), ("NEXT_SID", 5)):
        path = os.path.join(t.manifest_dir, name)
        assert os.path.islink(path)
        assert int(os.readlink(path)) == value
    assert t.current_snapshot_id() == 4
    # the append kept snapshot 3's file set and added one dir
    files = t._manifest(4)["files"]
    assert files[:-1] == t._manifest(3)["files"] and len(files) == 2

