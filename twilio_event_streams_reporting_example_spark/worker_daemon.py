"""Python worker daemon that imports the installed pyspark, not Spark's archives.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar ahead of ``PYTHONPATH``. Every task's
runner calls ``importlib.invalidate_caches()``, which on CPython 3.11 makes
each ``zipimporter`` (one per archive and per package directory imported
from it) re-read its archive's central directory: 0.17-0.5 s per call. This
daemon drops the archives from ``sys.path`` and ``sys.path_importer_cache``
before pyspark is imported, then runs ``pyspark.daemon.manager()``; the
workers it forks inherit the trimmed path.

Spark's path is kept unchanged when ``pyspark`` or ``py4j`` does not
resolve without the archives, or when the pyspark that does resolve has a
different ``__version__`` from the archive's copy: a mismatched install is
never picked up silently. ``session.get_spark`` selects this module.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder

_VERSION = re.compile(rb"""__version__[^=\n]*=\s*["']([^"']+)["']""")


def _pyspark_version(path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None:  # absent, or a namespace package
        return None
    pkg_dir = list(spec.submodule_search_locations)[0]
    try:
        src = spec.loader.get_data(os.path.join(pkg_dir, "version.py"))
    except OSError:
        return None
    m = _VERSION.search(src)
    return m.group(1) if m else None


def trimmed_path(path: list[str]) -> list[str]:
    """``path`` without its ``.zip``/``.jar`` entries, or ``path`` itself
    when the remaining entries cannot stand in for them."""
    archives = [p for p in path if p.endswith((".zip", ".jar"))]
    rest = [p for p in path if p not in archives]
    if not archives or PathFinder.find_spec("py4j", rest) is None:
        return path
    version = _pyspark_version(rest)
    if version is None or version != _pyspark_version(archives):
        return path
    return rest


def main() -> None:
    path = trimmed_path(sys.path)
    # an archive's importers include one per package directory inside it
    dropped = tuple(p + os.sep for p in sys.path if p not in path)
    for key in list(sys.path_importer_cache):
        if (key + os.sep).startswith(dropped):
            del sys.path_importer_cache[key]
    sys.path[:] = path

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
