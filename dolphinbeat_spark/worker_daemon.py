"""The engine's PySpark worker daemon (``spark.python.daemon.module``).

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12
(gh-103200 made it lazy), ``zipimporter.invalidate_caches`` re-reads
its archive's whole central directory, once per path-cache entry: a
worker holds about 13 over ``pyspark.zip`` and two over the spark-core
jar, about 200 ms a task. Here the re-read happens only when the
archive's ``(st_size, st_mtime_ns)`` differs from what this process
last read, so a zip rewritten on disk is still re-read. The daemon
stamps every archive once before forking; its workers inherit the
stamps. On 3.12+ this module only runs ``pyspark.daemon``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _guarded_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return None
    # stamp taken before the read: a rewrite racing it re-reads next time
    _stock_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    return None


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.12."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def main() -> None:
    install()
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the package's copy, so workers' patch and stamps live in
    # ``dolphinbeat_spark.worker_daemon``, not in ``__main__``
    from dolphinbeat_spark.worker_daemon import main as _main

    _main()
