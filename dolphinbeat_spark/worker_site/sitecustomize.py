"""Start-up rule for the Python processes Spark starts for a
``get_spark`` session (``spark.executorEnv.PYTHONPATH``).

Spark puts its ``pyspark.zip`` and ``py4j-*-src.zip`` first on a
worker's path. The zips ship no bytecode, so every fresh process
compiles pyspark again: about 1 s for the streaming Python data source
runner, which Spark starts once per query outside the worker daemon.
When the interpreter has the same release of a package installed (and
so compiled), this moves that package's zip to the end of
``sys.path``, and the process imports the installed copy. A different
release, no installed copy or no zip leaves ``sys.path`` as it was.

Python's ``site`` imports this module at interpreter start, which is
what runs the rule. That happens before the script's or the working
directory is on ``sys.path``, so the module uses the standard library
only. It writes nothing.
"""

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def _zip_package(entry):
    """The package a Spark zip entry holds, or None."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _zip_version(archive, package):
    try:
        return zipimport.zipimporter(archive).get_data(package + "/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def _installed_version(package, path):
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def prefer_installed(path):
    """Move each Spark zip in ``path`` whose package is installed
    elsewhere on ``path`` at the same release (byte-equal
    ``version.py``) to the end of ``path``, in place."""
    zips = {entry: package for entry in path if (package := _zip_package(entry))}
    others = [entry for entry in path if entry not in zips]
    moved = []
    for entry, package in zips.items():
        release = _zip_version(entry, package)
        if release is not None and release == _installed_version(package, others):
            moved.append(entry)
    if moved:
        path[:] = [entry for entry in path if entry not in moved] + moved


prefer_installed(sys.path)
