"""The Python worker daemon's stat guard on zip-archive re-reads
(``flink_1_16_0_src_spark.worker_daemon``): an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a changed or missing one is."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from flink_1_16_0_src_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    # a fixed entry timestamp keeps the bytes (and so the size) a function of the sources
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(zipfile.ZipInfo(f"{name}.py", date_time=(2020, 1, 1, 0, 0, 0)), src)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip holding module ``m1`` on ``sys.path`` under the guard, and a
    list that records every directory read of that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m1": "X = 1\n"})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    worker_daemon._read_stat.pop(archive, None)


def test_unchanged_archive_is_not_reread_and_a_grown_one_is(guarded_zip):
    archive, reads = guarded_zip
    import m1

    assert m1.X == 1
    importlib.invalidate_caches()  # first call reads and records, as in the daemon
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 1
    import m2

    assert m2.Y == 2


def test_inode_or_mtime_change_or_missing_archive_rereads(guarded_zip):
    archive, reads = guarded_zip
    import m1  # noqa: F401

    importlib.invalidate_caches()
    reads.clear()

    # same bytes and mtime, new inode
    st = os.stat(archive)
    _write_zip(archive + ".new", {"m1": "X = 1\n"})
    os.utime(archive + ".new", ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(archive + ".new", archive)
    assert os.stat(archive).st_ino != st.st_ino
    importlib.invalidate_caches()
    assert len(reads) == 1

    # same inode and size, newer mtime
    st = os.stat(archive)
    _write_zip(archive, {"m1": "X = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert (os.stat(archive).st_ino, os.stat(archive).st_size) == (st.st_ino, st.st_size)
    importlib.invalidate_caches()
    assert len(reads) == 2
    importlib.invalidate_caches()
    assert len(reads) == 2

    # a missing archive is re-read (and fails) on every call, as without the guard
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 4
    assert zipimport._zip_directory_cache.get(archive) is None


def test_python_workers_run_the_guarded_daemon(spark):
    import pandas as pd

    def guard_module(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(1, numPartitions=1).mapInPandas(guard_module, "m string").collect()
    assert [r.m for r in got] == ["flink_1_16_0_src_spark.worker_daemon"]
