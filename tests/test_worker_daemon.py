"""The engine's Python worker daemon: ``zipimporter.invalidate_caches``
re-reads an archive's directory only when the archive changed on disk,
and the workers of a ``get_spark`` session run that guard."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from dolphinbeat_spark import worker_daemon

pytestmark = pytest.mark.skipif(
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


def test_unchanged_zip_is_not_reread(guarded_zip):
    archive, reads = guarded_zip
    importlib.invalidate_caches()  # stamps the archive
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    importer = sys.path_importer_cache[str(archive)]
    assert importer._files is zipimport._zip_directory_cache[str(archive)]


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


def test_session_workers_run_the_guard(spark, monkeypatch):
    """A ``mapInArrow`` task's process runs the guarded
    ``invalidate_caches``, and a later task's per-task setup
    (``setup_spark_files``) re-reads no zip directory."""
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "tools"))
    from worker_overhead import run_probe

    rows = [run_probe(spark)[1] for _ in range(2)]
    assert {r["guard"] for r in rows} == {"dolphinbeat_spark.worker_daemon._guarded_invalidate"}
    assert rows[1]["zip_reads"] == 0
    assert spark.conf.get("spark.python.daemon.module") == "dolphinbeat_spark.worker_daemon"
