"""Python worker daemon: PySpark's own ``pyspark.daemon`` with two fixes.

Every task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that
re-reads the central directory of every zip archive on the import path
once per zipimporter: Spark's ``pyspark.zip``, the py4j zip and the
``spark-core`` jar, about 0.3 CPU-s per task before user code runs. The
guard below re-reads an archive only when its inode, size or mtime
changed since its last read, so a rewritten or missing archive is still
re-read exactly as before. ``session.get_spark`` names this module in
``spark.python.daemon.module``; workers fork from the daemon and inherit
the guard.

The daemon also imports ``pandas``, ``pyarrow`` and
``pyspark.sql.pandas.serializers`` (what every Arrow and pandas UDF task
imports) and then moves its whole heap into the permanent generation
with ``gc.freeze()``, in the order the ``gc.freeze`` docs give: collection
off before the imports, freeze, collection back on, then fork. PySpark's
daemon calls ``gc.collect()`` after every task of a reused worker; when
each worker imported pandas and Arrow itself, that collection walked
about 73,000 import-time objects, about 35 ms of CPU per task, as much as
a small task's own work. A forked worker inherits the frozen generation,
so its collections walk only the objects made since the fork (about 700
after a task), and the import-time pages stay shared copy-on-write
between the workers instead of one private copy each.
"""

from __future__ import annotations

import importlib
import os
import warnings
import zipimport

_read_invalidate = zipimport.zipimporter.invalidate_caches
_read_stat: dict[str, tuple[int, int, int] | None] = {}  # archive -> stat at its last read


def _archive_stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stat = _archive_stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stat is not None and files is not None and _read_stat.get(self.archive) == stat:
        self._files = files  # another importer of this archive may have re-read it
        return
    _read_invalidate(self)
    _read_stat[self.archive] = stat


def install() -> None:
    """Put the guard and the warning filter in place in this process."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # The Python-state serializer concatenates empty frames on every
    # batch; pandas deprecates that with a FutureWarning per worker.
    warnings.filterwarnings(
        "ignore",
        message="The behavior of DataFrame concatenation with empty or all-NA entries is deprecated",
        category=FutureWarning,
        module="pyspark.sql.pandas.serializers",
    )


if __name__ == "__main__":
    import gc

    gc.disable()  # no collection before the freeze leaves holes in the shared pages
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    from pyspark import daemon

    # install from the imported module, not from this __main__ copy of it
    from flink_1_16_0_src_spark import worker_daemon

    worker_daemon.install()
    importlib.invalidate_caches()  # one read per archive here; forked workers inherit it
    gc.freeze()  # forked workers' collections skip everything imported above
    gc.enable()
    daemon.manager()
