"""The start-up rule of the Python processes Spark starts for a
``get_spark`` session (``dolphinbeat_spark/worker_site/sitecustomize.py``):
a Spark zip moves behind an installed copy of the same release, and
nothing else changes; the daemon's workers and the streaming source
runner import the installed, compiled pyspark."""

from __future__ import annotations

import glob
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pyspark
import pytest

from dolphinbeat_spark.session import WORKER_SITE

RULE = Path(WORKER_SITE) / "sitecustomize.py"


@pytest.fixture(scope="module")
def rule():
    """The hook file loaded under another name (loading it runs the rule
    on this process's path, which holds no Spark zip)."""
    spec = importlib.util.spec_from_file_location("worker_site_rule", RULE)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _zip(path: Path, package: str, release: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", f"__version__ = '{release}'\n")
    return str(path)


def _installed(site: Path, package: str, release: str) -> None:
    (site / package).mkdir(parents=True)
    (site / package / "__init__.py").write_text("")
    (site / package / "version.py").write_text(f"__version__ = '{release}'\n")


@pytest.fixture
def tree(tmp_path):
    """Spark's two zips, the hook directory and a site directory, in
    the order a worker's path has them; the site directory is empty."""
    site = tmp_path / "site"
    site.mkdir()
    pyspark_zip = _zip(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
    py4j_zip = _zip(tmp_path / "py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9")
    yield site, [pyspark_zip, py4j_zip, str(tmp_path / "hook"), str(site)]
    for archive in (pyspark_zip, py4j_zip):
        zipimport._zip_directory_cache.pop(archive, None)


def _files(root: Path) -> list[str]:
    return sorted(str(p.relative_to(root)) for p in root.rglob("*"))


def test_same_release_moves_zips_behind_installed_copy(rule, tree, tmp_path):
    site, path = tree
    _installed(site, "pyspark", "4.1.2")
    _installed(site, "py4j", "0.10.9.9")
    files = _files(tmp_path)
    new = list(path)
    rule.prefer_installed(new)
    assert new == [path[2], path[3], path[0], path[1]]
    assert _files(tmp_path) == files  # writes nothing


def test_each_zip_moves_only_for_its_own_release(rule, tree):
    site, path = tree
    _installed(site, "pyspark", "4.1.2")
    _installed(site, "py4j", "0.10.9.8")
    new = list(path)
    rule.prefer_installed(new)
    assert new == [path[1], path[2], path[3], path[0]]


@pytest.mark.parametrize("case", ["other_release", "not_installed", "no_zip"])
def test_path_unchanged_without_a_matching_installed_copy(rule, tree, tmp_path, case):
    site, path = tree
    if case == "other_release":
        _installed(site, "pyspark", "4.1.1")
        _installed(site, "py4j", "0.10.9.7")
    elif case == "no_zip":
        _installed(site, "pyspark", "4.1.2")
        _installed(site, "py4j", "0.10.9.9")
        path = path[2:]
    files = _files(tmp_path)
    new = list(path)
    rule.prefer_installed(new)
    assert new == path
    assert _files(tmp_path) == files


def _spark_zips() -> list[str]:
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    lib = os.path.join(home, "python", "lib")
    zips = [os.path.join(lib, "pyspark.zip")] + sorted(glob.glob(os.path.join(lib, "py4j-*-src.zip")))
    if len(zips) != 2 or not all(os.path.isfile(z) for z in zips):
        pytest.skip(f"no pyspark.zip and py4j zip under {lib}")
    release = zipimport.zipimporter(zips[0]).get_data("pyspark/version.py")
    if release != Path(pyspark.__file__).with_name("version.py").read_bytes():
        pytest.skip("the installed pyspark is not the release of Spark's pyspark.zip")
    return zips


def _origins(path: list[str]) -> list[str]:
    code = "import pyspark, py4j; print(pyspark.__file__); print(py4j.__file__)"
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=os.sep,
                         capture_output=True, text=True, check=True)
    return out.stdout.split()


def test_process_with_spark_zips_first_imports_installed_copy():
    import py4j

    zips = _spark_zips()
    assert _origins(zips)[0].startswith(zips[0])  # Spark's own order
    assert _origins(zips + [WORKER_SITE]) == [pyspark.__file__, py4j.__file__]


def test_source_runner_imports_installed_copy(spark, tmp_path, monkeypatch):
    """A streaming query's source runner, which Spark starts outside
    the worker daemon, runs the installed pyspark, the copy the test
    process imported, and compiles nothing from a zip."""
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "tools"))
    from worker_overhead import start_origin_query

    _, runner = start_origin_query(spark, str(tmp_path), str(tmp_path / "ckpt"))
    assert "pyspark.sql.streaming.python_streaming_source_runner" in runner["argv"]
    assert runner["pyspark"] == pyspark.__file__
    assert runner["zip_modules"] == 0


def test_daemon_workers_import_installed_copy(spark):
    """A ``mapInArrow`` task, forked from the engine's worker daemon,
    runs the installed pyspark too."""

    def origin(batches):
        import pyarrow as pa
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"origin": worker_pyspark.__file__}])

    row = spark.range(1, numPartitions=1).mapInArrow(origin, "origin string").collect()[0]
    assert row["origin"] == pyspark.__file__
