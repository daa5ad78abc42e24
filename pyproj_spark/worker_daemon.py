"""Python-worker daemon that runs Spark's workers on the installed pyspark.

``get_spark`` names this module in ``spark.python.daemon.module``, so
Spark starts every Python-worker daemon as ``python -m
pyproj_spark.worker_daemon`` with three archives of its own first on
``sys.path``: ``pyspark.zip``, ``py4j-<release>-src.zip`` and the
``spark-core`` jar. On CPython <= 3.12 the ``invalidate_caches()`` that
starts every task re-reads each of those zips (see
:mod:`pyproj_spark.session` for the cost).

When the installed pyspark and py4j load from directories and are the
same releases as those archives, this module takes the archives off
``sys.path``, drops their ``sys.path_importer_cache`` entries (also
those made while ``python -m`` looked for this module) and hands over
to the stock ``pyspark.daemon.manager()``. Otherwise the path stays as
Spark built it. User archives (``--py-files``, zips on PYTHONPATH) are
never touched.

Nothing here may import pyspark before the path is edited.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_CORE_JAR = re.compile(r"spark-core_[\d.]+-.+\.jar")
_VERSION = re.compile(r"""__version__[^=\n]*=\s*["']([^"']+)["']""")
_PACKAGES = ("pyspark", "py4j")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or _PY4J_ZIP.fullmatch(name) is not None
            or _CORE_JAR.fullmatch(name) is not None)


def spark_archives(path: list[str], installed: dict[str, str | None],
                   bundled: dict[str, str | None]) -> list[str]:
    """The entries of ``path`` that are Spark's own archives, if they may go.

    ``installed`` maps ``"pyspark"`` and ``"py4j"`` to the release that
    loads from a directory on the rest of the path (``None`` if none
    does); ``bundled`` maps them to the release in Spark's archives. All
    the archives go, or none: none when a package is missing or differs.
    """
    if all(installed.get(p) is not None and installed.get(p) == bundled.get(p)
           for p in _PACKAGES):
        return [e for e in path if _is_spark_archive(e)]
    return []


def _release(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _installed_release(package: str, path: list[str]) -> str | None:
    """Release of the first ``package`` on ``path``, if it is a directory."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin),
                               "version.py")) as f:
            return _release(f.read())
    except OSError:
        return None


def _bundled_releases(archives: list[str]) -> dict[str, str | None]:
    out: dict[str, str | None] = {}
    for entry in archives:
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    out["pyspark"] = _release(
                        z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                out["pyspark"] = None
        elif m := _PY4J_ZIP.fullmatch(name):
            out["py4j"] = m.group(1)
    return out


def strip_spark_archives(path: list[str] = sys.path,
                         cache: dict = sys.path_importer_cache) -> list[str]:
    """Remove Spark's archives from ``path`` and their importers from
    ``cache`` when the installed packages can replace them; return what
    was removed."""
    archives = [e for e in path if _is_spark_archive(e)]
    rest = [e for e in path if e not in archives]
    drop = spark_archives(
        path, {p: _installed_release(p, rest) for p in _PACKAGES},
        _bundled_releases(archives))
    for entry in drop:
        path.remove(entry)
    for key in [k for k in cache if any(
            k == e or k.startswith(e + os.sep) for e in drop)]:
        del cache[key]
    return drop


if __name__ == "__main__":
    strip_spark_archives()
    from pyspark.daemon import manager
    manager()
