"""The Python worker daemon (``flink_1_16_0_src_spark.worker_daemon``).

Its stat guard on zip-archive re-reads: an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a changed or missing one is.
Its pre-import and freeze: workers fork from a daemon that imported pandas
and Arrow and froze its heap, so a worker's ``gc.collect()`` walks only
the objects made since the fork, and numpy's BLAS and Arrow's kernels,
loaded before the fork, still compute right in concurrent workers."""

from __future__ import annotations

import importlib
import os
import sys
import threading
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


def test_workers_fork_from_a_frozen_heap(spark):
    """The post-task ``gc.collect()`` of a reused worker walks only what the
    worker made since the fork: the daemon's pandas/Arrow import is frozen."""
    import pandas as pd

    def heap(batches):
        import gc

        for _ in batches:
            pass
        gc.collect()
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()], "live": [len(gc.get_objects())]})

    (got,) = spark.range(1, numPartitions=1).mapInPandas(heap, "frozen long, live long").collect()
    assert got.frozen >= 50_000, got
    assert got.live <= 5_000, got


def _collect_within(spark, df, seconds: float):
    """``df.collect()``, cancelled and failed if it takes over ``seconds``,
    so a deadlocked worker fails the test instead of hanging the suite."""
    sc = spark.sparkContext
    group = "worker-daemon-timed-collect"
    out: dict = {}

    def run():
        sc.setJobGroup(group, "timed collect", interruptOnCancel=True)
        try:
            out["rows"] = df.collect()
        except Exception as e:  # noqa: BLE001 - re-raised in the test thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    if t.is_alive():
        sc.cancelJobGroup(group)
        t.join(60)
        pytest.fail(f"collect did not finish in {seconds} s (worker deadlock after fork?)")
    if "error" in out:
        raise out["error"]
    return out["rows"]


def test_four_forked_workers_compute_numpy_and_arrow_kernels(spark):
    import pandas as pd

    def kernels(seed: int):
        """A 512x512 BLAS matmul and an Arrow compute kernel plus a threaded
        Arrow group-by; integer-valued inputs keep every sum exact."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        rng = np.random.default_rng(seed)
        a = rng.integers(0, 10, (512, 512)).astype(np.float64)
        b = rng.integers(0, 10, (512, 512)).astype(np.float64)
        matmul = float((a @ b).sum())
        col = pa.array(rng.integers(0, 1000, 100_000))
        arrow_sum = pc.sum(pc.multiply(col, col)).as_py()
        t = pa.table({"k": pc.bit_wise_and(col, pa.scalar(15, col.type)), "v": col})
        grouped = t.group_by("k", use_threads=True).aggregate([("v", "sum")]).sort_by("k")
        return matmul, arrow_sum, grouped.column("v_sum").to_pylist()

    def run(batches):
        for pdf in batches:
            for seed in pdf["id"]:
                matmul, arrow_sum, grouped = kernels(int(seed))
                yield pd.DataFrame(
                    {"seed": [int(seed)], "matmul": [matmul], "arrow_sum": [arrow_sum],
                     "grouped": [grouped]}
                )

    # barrier mode launches the 4 tasks together, one worker each
    df = spark.range(4, numPartitions=4).mapInPandas(
        run, "seed long, matmul double, arrow_sum long, grouped array<long>", barrier=True
    )
    got = sorted(_collect_within(spark, df, 180), key=lambda r: r.seed)
    assert [r.seed for r in got] == [0, 1, 2, 3]
    for r in got:
        matmul, arrow_sum, grouped = kernels(r.seed)
        assert (r.matmul, r.arrow_sum, list(r.grouped)) == (matmul, arrow_sum, grouped)
