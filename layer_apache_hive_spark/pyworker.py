"""Python-worker daemon: Spark's ``pyspark.daemon`` on a path without
Spark's bundled archives.

Spark's ``PythonWorkerFactory`` puts ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the front of every Python
worker's ``sys.path``. Workers then import pyspark from the zip, which has
no ``.pyc`` cache, and every task's ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) makes each cached
``zipimporter`` re-read its archive's whole directory. The jar holds no
Python at all.

``session.SESSION_CONF`` names this module as ``spark.python.daemon.module``.
Run as ``python -m``, it removes those archives from ``sys.path`` and their
importers from ``sys.path_importer_cache`` before anything imports pyspark,
then runs ``pyspark.daemon.manager()``; the workers it forks inherit the
clean path. It does so only when every bundled zip's package is installed
on the rest of the path with an identical ``version.py``; otherwise the
workers keep Spark's stock path. This module must not import pyspark, or
anything that does, at the top level.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _bundled_version(entry: str) -> tuple[str, bytes] | None:
    """(package, ``version.py`` bytes) when ``entry`` is a zip that holds
    pyspark or py4j, else None."""
    if not entry.endswith(".zip") or not zipfile.is_zipfile(entry):
        return None
    with zipfile.ZipFile(entry) as zf:
        for pkg in ("pyspark", "py4j"):
            try:
                return pkg, zf.read(f"{pkg}/version.py")
            except KeyError:
                continue
    return None


def _installed_version(pkg: str, path: list[str]) -> bytes | None:
    """``<pkg>/version.py`` of the package ``pkg`` found on ``path``, or None."""
    spec = PathFinder.find_spec(pkg, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's bundled zips and jars; ``path`` itself
    unless each bundled zip's package is found on the rest of it with a
    byte-identical ``version.py``."""
    bundled = {entry: _bundled_version(entry) for entry in path}
    rest = [entry for entry in path if bundled[entry] is None and not entry.endswith(".jar")]
    for pkg, version in filter(None, bundled.values()):
        if _installed_version(pkg, rest) != version:
            return path
    return rest


def strip_spark_archives() -> None:
    """Apply ``worker_path`` to this process's ``sys.path`` and drop the
    cached importers of the entries it removed."""
    kept = worker_path(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept


if __name__ == "__main__":
    strip_spark_archives()
    from pyspark import daemon

    daemon.manager()
