"""Spark's Python worker daemon, started without Spark's own archives on
``sys.path``.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the ``py4j-*-src.zip`` and the spark-core jar at the head of ``PYTHONPATH``
(``PythonUtils.sparkPythonPath``).  Before every task PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``;
on Python 3.11 and 3.12 that makes each ``zipimporter`` re-read its whole
archive directory — about 7 ms for each ``pyspark.zip`` importer and 43 ms
for each of the two importers of ``spark-core_2.13-4.1.2.jar`` (Spark 4.1.2,
Python 3.11.7).  That is 120–230 ms per task before any UDF code runs.
Python 3.13 reads archive directories lazily and does not pay it.

When ``pyspark`` and ``py4j`` also resolve from directories (an installed
PySpark) and that ``pyspark/version.py`` equals the one inside the dropped
``pyspark.zip``, :func:`main` removes those archives from ``sys.path`` and
their importers from ``sys.path_importer_cache``, then hands over to
``pyspark.daemon.manager()``.  The per-task ``invalidate_caches()`` then
touches only directory finders.  Any other archive on the path (a user's
``--py-files`` zip, the interpreter's stdlib zip) stays; when the check
fails, ``sys.path`` is left as Spark built it.

``session.get_spark`` starts workers through this module on ``local``
masters only (``spark.python.daemon.module``); Spark runs it as
``python -m emulating_hadoop_with_mpi_spark.worker_daemon pyspark.worker``.
It must import nothing from ``pyspark`` before the path is filtered, which
is why the package ``__init__`` imports ``session`` lazily.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile


def is_spark_archive(entry: str) -> bool:
    """True for the archives Spark puts on a worker's path: ``pyspark.zip``,
    ``py4j-*-src.zip`` and any ``*.jar``."""
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or name.endswith(".jar")
        or (name.startswith("py4j-") and name.endswith("-src.zip"))
    )


def _directory_origin(module: str, path: list[str]) -> str | None:
    """The ``__init__.py`` that ``module`` resolves to on ``path``, if it is
    a file in a directory (not a member of an archive)."""
    spec = importlib.machinery.PathFinder.find_spec(module, path)
    origin = spec.origin if spec is not None else None
    return origin if origin and os.path.isfile(origin) else None


def _read_member(archive: str, member: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read(member)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself when dropping
    them could change which ``pyspark`` or ``py4j`` the worker imports."""
    kept = [e for e in path if not is_spark_archive(e)]
    if len(kept) == len(path):
        return path
    pyspark_init = _directory_origin("pyspark", kept)
    if pyspark_init is None or _directory_origin("py4j", kept) is None:
        return path
    try:
        with open(os.path.join(os.path.dirname(pyspark_init), "version.py"), "rb") as f:
            version = f.read()
    except OSError:
        return path
    for entry in path:
        if os.path.basename(entry) == "pyspark.zip" and _read_member(entry, "pyspark/version.py") != version:
            return path
    return kept


def main() -> None:
    kept = without_spark_archives(sys.path)
    dropped = [e for e in sys.path if e not in kept]
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
