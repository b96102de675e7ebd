"""The engine's PySpark worker daemon (``spark.python.daemon.module``).

It removes three fixed costs every Python task of this engine paid in
``pyspark.daemon``'s forked, reused workers.

**Zip re-reads** (CPython < 3.12 only). Every task starts with
``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12
(gh-103200 made it lazy), ``zipimporter.invalidate_caches`` re-reads
its archive's whole central directory, once per path-cache entry: a
worker holds about 13 over ``pyspark.zip`` and two over the spark-core
jar, about 200 ms a task. Here the re-read happens only when the
archive's ``(st_size, st_mtime_ns)`` differs from what this process
last read, so a zip rewritten on disk is still re-read. The daemon
stamps every archive once before forking; its workers inherit the
stamps.

**Delayed-ACK stall** (Linux). The JVM writes a task's command and
then its input as two small writes on a socket without
``TCP_NODELAY``, so Nagle holds the input until the worker ACKs the
command, and Linux delays that ACK by 40 ms: a one-row task waited
41 ms for its input. :func:`task_worker` replaces
``pyspark.daemon.worker``, which the worker-reuse loop looks up once
per task, and sets ``TCP_QUICKACK`` on the task's socket first. The
option is not sticky (tcp(7)), hence once per task. Unix-domain
sockets (``spark.python.unix.domain.socket.enabled``) have no ACKs and
are left alone, as is a platform without ``socket.TCP_QUICKACK``.

**Per-task full GC.** The reuse loop runs ``gc.collect()`` after every
task. A full collection scans every tracked object, pyarrow's,
pandas' and pyspark's included: about 35 ms of CPU a task. Before it
forks, the daemon imports :data:`PRELOAD`, collects once and calls
``gc.freeze()``, so workers inherit those objects in the permanent
generation: shared with the daemon and never scanned, each later
collection walks only what the task made.

Measured on one-row ``mapInArrow`` tasks (4-core VM,
``tools/worker_overhead.py``, medians, without -> with the two): input
wait 40.8 -> 0.3 ms, worker CPU 33.6 -> 2.8 ms and GC 34.7 -> 0.2 ms a
task.
"""

from __future__ import annotations

import gc
import importlib
import os
import socket
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


#: what every engine task imports, imported once in the daemon and
#: frozen (module docstring). The first four are PySpark's Arrow UDF
#: and Python data source paths: the serializers (they pull in
#: pyarrow), ``pyarrow.compute`` and ``pandas``, which those paths
#: import in each worker's first task, and the data source read
#: planner. The rest are the engine's task-side modules: the binlog
#: readers and their decoders, the sink encoders and the registry.
PRELOAD = (
    "pyspark.sql.pandas.serializers",
    "pyarrow.compute",
    "pandas",
    "pyspark.sql.worker.plan_data_source_read",
    "dolphinbeat_spark.schema.registry",
    "dolphinbeat_spark.sources.binlog_file",
    "dolphinbeat_spark.sources.binlog_source",
    "dolphinbeat_spark.sources.mysql_jsonb",
    "dolphinbeat_spark.sources.repl_client",
    "dolphinbeat_spark.sinks.ordered",
    "dolphinbeat_spark.sinks.wire_protocol",
)

#: ``pyspark.daemon.worker`` as it was before :func:`main` replaced it
_stock_worker = None


def task_worker(sock, authenticated):
    """``pyspark.daemon.worker`` that first has a TCP socket ACK the
    next segment at once (``TCP_QUICKACK``, Linux only)."""
    opt = getattr(socket, "TCP_QUICKACK", None)
    if opt is not None and sock.family in (socket.AF_INET, socket.AF_INET6):
        try:
            sock.setsockopt(socket.IPPROTO_TCP, opt, 1)
        except OSError:
            pass  # a hint: the task runs either way
    return _stock_worker(sock, authenticated)


def prepare() -> None:
    """Import :data:`PRELOAD`, stamp every archive and freeze what is
    alive, so forked workers share it and never collect it."""
    for name in PRELOAD:
        importlib.import_module(name)
    importlib.invalidate_caches()
    gc.collect()
    gc.freeze()


def main() -> None:
    global _stock_worker
    install()
    from pyspark import daemon

    _stock_worker = daemon.worker
    daemon.worker = task_worker
    prepare()
    daemon.manager()


if __name__ == "__main__":
    # run the package's copy, so workers' patch and stamps live in
    # ``dolphinbeat_spark.worker_daemon``, not in ``__main__``
    from dolphinbeat_spark.worker_daemon import main as _main

    _main()
