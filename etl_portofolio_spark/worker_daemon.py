"""Python worker daemon that imports the installed PySpark, not Spark's zip.

Spark starts a local executor's Python workers with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the spark-core
jar at the head of ``PYTHONPATH``. Two costs follow, paid by every task:

- PySpark is imported from the zip, which holds no ``.pyc``, so a fresh
  interpreter compiles it from source.
- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` once per task. On Python 3.11 that
  re-reads the directory of the archive behind every zipimporter in
  ``sys.path_importer_cache``: 16 over pyspark.zip and 2 over the
  5,359-entry spark-core jar, which holds no ``.py`` file at all
  (0.12-0.28 s a task on a 4-vCPU host, the jar alone about 0.13 s).

``session.BUILDER_CONFS`` names this module as
``spark.python.daemon.module``. It drops every archive under
``realpath($SPARK_HOME)`` from ``sys.path`` and from the importer cache,
then runs ``pyspark.daemon.manager()``; the workers it forks inherit the
cleaned path. It does so only when the installed ``pyspark`` has the
zip's version (``pyspark/version.py``) and ``py4j`` is installed too;
otherwise the path stays as Spark set it.

Importing this module imports no PySpark: the path is decided before the
first PySpark import.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__[^=\n]*=\s*["']([^"']+)["']""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def installed_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the archives under ``realpath(spark_home)`` when
    the PySpark found on the rest of it has the version of the archived
    one; ``path`` itself otherwise."""
    if not spark_home:
        return path
    home = os.path.join(os.path.realpath(spark_home), "")
    archives = [
        p for p in path if os.path.isfile(p) and os.path.realpath(p).startswith(home)
    ]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    kept = [p for p in path if p not in archives]
    spec = PathFinder.find_spec("pyspark", kept)
    if not zips or spec is None or PathFinder.find_spec("py4j", kept) is None:
        return path
    try:
        with zipfile.ZipFile(zips[0]) as z:
            zipped = _version(z.read("pyspark/version.py").decode())
        pkg = os.path.dirname(spec.origin or "")
        with open(os.path.join(pkg, "version.py"), encoding="utf-8") as f:
            installed = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if zipped is not None and installed == zipped else path


def _drop(dropped: set[str]) -> None:
    """Remove ``dropped`` entries (and zipimporters over their members,
    keyed ``<archive>/<dir>``) from ``sys.path`` and its importer cache."""
    sys.path[:] = [p for p in sys.path if p not in dropped]
    prefixes = tuple(os.path.join(d, "") for d in dropped)
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(prefixes):
            del sys.path_importer_cache[key]


def main() -> None:
    _drop(set(sys.path) - set(installed_path(sys.path, os.environ.get("SPARK_HOME"))))
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
