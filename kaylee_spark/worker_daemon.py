"""PySpark worker daemon that stops each task from re-reading ``pyspark.zip``.

``get_spark`` points ``spark.python.daemon.module`` here. Spark starts
the daemon as ``python -m kaylee_spark.worker_daemon pyspark.worker``;
it forks one worker per Python task slot, and every task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-parse its archive's central directory at
once. Workers import PySpark from ``$SPARK_HOME/python/lib/pyspark.zip``
(1328 entries), through one importer per subpackage path, so each task
paid about 0.2 CPU s before it touched a row. CPython 3.12 made the
re-read lazy.

``install`` keeps the contract of ``invalidate_caches``: an importer
still re-reads its archive when the file's ``(st_mtime_ns, st_size,
st_ino)`` differ from when that importer last read it, so a rewritten or
replaced archive is picked up. It only skips re-reading a file that did
not change. The daemon installs the wrapper and invalidates once before
it forks, so every worker starts with the stamps already taken.

Importing this module changes nothing; only running it does. Sessions
not built by ``get_spark`` keep PySpark's own daemon and stay correct.
``get_spark`` also puts the package root on the workers' ``PYTHONPATH``,
so they can import this module whatever the driver's cwd.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        reread(self)
        self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    install()
    importlib.invalidate_caches()
    daemon.manager()
