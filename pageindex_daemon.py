"""Python worker daemon for pageindex_spark sessions: ``pyspark.daemon`` on
the installed pyspark instead of ``$SPARK_HOME/python/lib/pyspark.zip``.

Spark puts its own archives first on every Python worker's path
(``PythonUtils.sparkPythonPath``: ``pyspark.zip``, the py4j zip and the
spark-core jar). Every task then runs ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``; on CPython 3.11 that makes
each cached ``zipimporter`` re-read its archive's whole central directory.
A worker holds one per pyspark subpackage it imported (1,328 entries each
for pyspark.zip), so an empty Python task cost ~300 ms on a 4-core box.

When the worker's interpreter has the same pyspark version installed (and
py4j), this module drops exactly those archives from ``sys.path`` and their
importers from ``sys.path_importer_cache``, then runs ``pyspark.daemon``.
Every forked worker inherits the clean path. ``--py-files`` archives and
every other entry stay; if the installed pyspark is missing or its version
differs from the zip's, the path is left as Spark set it.

``session.get_spark`` selects this module through
``spark.python.daemon.module``. It must import nothing from pyspark before
the path is fixed: an import from the zip would pin the zip's modules.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""", re.M)


def spark_archives(path: list[str], spark_home: str) -> list[str]:
    """The entries of ``path`` that Spark prepends for its workers: the
    zips in ``$SPARK_HOME/python/lib`` and the jars in ``$SPARK_HOME/jars``
    (compared after resolving symlinks)."""
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    out = []
    for p in path:
        d, name = os.path.split(os.path.realpath(p))
        if (d == lib and name.endswith(".zip")) or (d == jars and name.endswith(".jar")):
            out.append(p)
    return out


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without Spark's archives if the rest of it imports the same
    pyspark version (and a py4j); otherwise ``path`` itself."""
    if not spark_home:
        return path
    drop = spark_archives(path, spark_home)
    zips = [p for p in drop if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    kept = [p for p in path if p not in drop]
    pyspark = PathFinder.find_spec("pyspark", kept)
    if pyspark is None or pyspark.origin is None or PathFinder.find_spec("py4j", kept) is None:
        return path
    try:
        with open(os.path.join(os.path.dirname(pyspark.origin), "version.py")) as fh:
            installed = _version(fh.read())
        with zipfile.ZipFile(zips[0]) as z:
            zipped = _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if installed is not None and installed == zipped else path


def main() -> None:
    path = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    if path is not sys.path:
        dropped = [p for p in sys.path if p not in path]
        sys.path[:] = path
        for key in list(sys.path_importer_cache):
            if any(key == d or key.startswith(d + os.sep) for d in dropped):
                del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
