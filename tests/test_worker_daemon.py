"""The engine's Python worker daemon: ``zipimporter.invalidate_caches``
re-reads an archive's directory only when the archive changed on disk,
every task sets ``TCP_QUICKACK`` on its socket, and the modules every
task imports are imported and frozen before the workers fork; the
workers of a ``get_spark`` session run all three."""

from __future__ import annotations

import gc
import importlib
import socket
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from dolphinbeat_spark import worker_daemon

zip_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads zip directories lazily")


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``wd_mod_a``, imported once, with
    the guard installed and every ``_read_directory`` call of that
    archive counted; yields (archive, reads)."""
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wd_mod_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    worker_daemon.install()
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("wd_mod_a").VALUE == "a"
    yield archive, reads
    for name in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


@zip_guard
def test_unchanged_zip_is_not_reread(guarded_zip):
    archive, reads = guarded_zip
    importlib.invalidate_caches()  # stamps the archive
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    importer = sys.path_importer_cache[str(archive)]
    assert importer._files is zipimport._zip_directory_cache[str(archive)]


@zip_guard
def test_rewritten_zip_is_reread_and_its_new_module_imports(guarded_zip):
    archive, reads = guarded_zip
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, {"wd_mod_a": "VALUE = 'a'\n", "wd_mod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("wd_mod_b").VALUE == "b"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@zip_guard
def test_vanished_zip_takes_the_stock_path(guarded_zip, monkeypatch):
    archive, _ = guarded_zip
    importlib.invalidate_caches()
    stock_calls = []
    stock = worker_daemon._stock_invalidate

    def counting_stock(self):
        stock_calls.append(self.archive)
        return stock(self)

    monkeypatch.setattr(worker_daemon, "_stock_invalidate", counting_stock)
    archive.unlink()
    importlib.invalidate_caches()
    assert stock_calls == [str(archive)]
    assert str(archive) not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[str(archive)]._files == {}


def test_install_is_a_pass_through_on_312(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def _probe_module(monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "tools"))
    import worker_overhead

    return worker_overhead


@zip_guard
def test_session_workers_run_the_guard(spark, monkeypatch):
    """A ``mapInArrow`` task's process runs the guarded
    ``invalidate_caches``, and a later task's per-task setup
    (``setup_spark_files``) re-reads no zip directory."""
    rows = [_probe_module(monkeypatch).run_probe(spark)[1] for _ in range(2)]
    assert {r["guard"] for r in rows} == {"dolphinbeat_spark.worker_daemon._guarded_invalidate"}
    assert rows[1]["zip_reads"] == 0
    assert spark.conf.get("spark.python.daemon.module") == "dolphinbeat_spark.worker_daemon"


class _FakeSocket:
    def __init__(self, family, fail=False):
        self.family, self.fail, self.options = family, fail, []

    def setsockopt(self, level, option, value):
        if self.fail:
            raise OSError("Protocol not available")
        self.options.append((level, option, value))


@pytest.fixture
def stock_worker(monkeypatch):
    """A fake ``pyspark.daemon.worker`` under ``task_worker``; yields the
    calls it saw as (socket, authenticated, options set before it ran)."""
    calls = []

    def worker(sock, authenticated):
        calls.append((sock, authenticated, list(getattr(sock, "options", []))))
        return 0

    monkeypatch.setattr(worker_daemon, "_stock_worker", worker)
    monkeypatch.setattr(socket, "TCP_QUICKACK", 12, raising=False)
    return calls


@pytest.mark.parametrize("family", [socket.AF_INET, socket.AF_INET6], ids=["inet", "inet6"])
def test_task_worker_sets_quickack_once_per_task(stock_worker, family):
    sock = _FakeSocket(family)
    for authenticated in (False, True, True):
        assert worker_daemon.task_worker(sock, authenticated) == 0
    quickack = (socket.IPPROTO_TCP, 12, 1)
    assert sock.options == [quickack] * 3
    assert stock_worker == [(sock, False, [quickack]), (sock, True, [quickack] * 2),
                            (sock, True, [quickack] * 3)]


def test_task_worker_leaves_unix_sockets_alone(stock_worker):
    sock = _FakeSocket(socket.AF_UNIX)
    assert worker_daemon.task_worker(sock, True) == 0
    assert sock.options == [] and len(stock_worker) == 1


def test_task_worker_without_tcp_quickack_is_a_pass_through(stock_worker, monkeypatch):
    monkeypatch.delattr(socket, "TCP_QUICKACK")
    sock = _FakeSocket(socket.AF_INET)
    assert worker_daemon.task_worker(sock, True) == 0
    assert sock.options == [] and len(stock_worker) == 1


def test_task_worker_runs_the_task_when_the_option_is_refused(stock_worker):
    assert worker_daemon.task_worker(_FakeSocket(socket.AF_INET, fail=True), True) == 0
    assert len(stock_worker) == 1


def test_prepare_imports_the_task_modules_and_freezes_them():
    try:
        worker_daemon.prepare()
        frozen = gc.get_freeze_count()
        assert frozen > 0
        assert all(name in sys.modules for name in worker_daemon.PRELOAD)
        pandas = sys.modules["pandas"]
        assert not any(o is pandas.__dict__ for o in gc.get_objects())
    finally:
        gc.unfreeze()
    assert gc.get_freeze_count() == 0


def test_session_workers_run_the_task_worker_over_frozen_modules(spark, monkeypatch):
    """A task runs ``task_worker`` in a worker forked after the freeze;
    once the reuse loop's full collection has run after a task, it
    scans what the tasks made, not the frozen modules."""
    probe = _probe_module(monkeypatch)
    seen: dict[int, list] = {}
    for _ in range(12):
        row = probe.run_probe(spark)[1]
        seen.setdefault(row["pid"], []).append(row)
        if len(seen[row["pid"]]) == 2:
            break
    assert len(seen[row["pid"]]) == 2, "no worker ran two of 12 tasks"
    second = seen[row["pid"]][1]
    assert second["task_worker"] == "dolphinbeat_spark.worker_daemon.task_worker"
    assert second["freeze_count"] > 10_000
    assert second["gen2_objects"] < second["freeze_count"] // 4, second


def test_reused_worker_does_not_accumulate_objects(spark, monkeypatch):
    """Objects the collector tracks in one worker after its 50th task
    stay within a small margin of the count after its 5th."""
    probe = _probe_module(monkeypatch)
    four_tasks = spark.range(4, numPartitions=4).mapInArrow(probe.make_probe(), probe.PROBE_SCHEMA)
    by_pid: dict[int, list] = {}
    for _ in range(200):
        for row in four_tasks.collect():
            by_pid.setdefault(row["pid"], []).append(row["tracked_objects"])
        longest = max(by_pid.values(), key=len)
        if len(longest) >= 50:
            break
    assert len(longest) >= 50
    assert longest[49] <= longest[4] + 100, longest
