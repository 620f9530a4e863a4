"""Python daemon that imports pyspark from the installed package.

Spark starts it as ``python -m pycorrector_spark.daemon pyspark.worker``
when ``session.get_spark`` sets ``spark.python.daemon.module``. pyspark's
own daemon runs with ``pyspark.zip`` first on ``sys.path``, and that zip
holds sources only, so every new daemon compiles pyspark (~1 s on a
4-vCPU host). This one moves ``pyspark.zip`` and ``py4j-*.zip`` after the
other entries when the zip is the installed pyspark's own version, imports
pyspark's daemon from the installed package's bytecode, drops the zip
finders the forked workers would inherit, and hands over to
``pyspark.daemon.manager``. The worker module still comes from
``sys.argv[1]``, as in pyspark's daemon.

Nothing here imports pyspark at module level: the reorder must happen
before the first pyspark import.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile
import zipimport

_VERSION = re.compile(r"""^__version__\s*(?::\s*\w+\s*)?=\s*["']([^"']+)["']""", re.M)


def _is_spark_zip(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith(".zip"))


def _zip_version(archive: str):
    """``__version__`` of ``pyspark/version.py`` inside ``archive``, or None."""
    try:
        with zipfile.ZipFile(archive) as zf:
            src = zf.read("pyspark/version.py").decode("utf-8")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = _VERSION.search(src)
    return m.group(1) if m else None


def startup_path(path: list) -> list:
    """``path`` with the Spark zips moved after every other entry, or
    ``path`` unchanged unless each ``pyspark.zip`` on it is the installed
    pyspark's version (a worker must speak the JVM's protocol)."""
    try:
        installed = importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        return path
    zips = [p for p in path if _is_spark_zip(p)]
    if {_zip_version(p) for p in zips if os.path.basename(p) == "pyspark.zip"} != {installed}:
        return path
    return [p for p in path if not _is_spark_zip(p)] + zips


def _release_zip_finders():
    """Drop every zipimporter from ``sys.path_importer_cache``.

    A Python worker starts each task with ``importlib.invalidate_caches()``
    (pyspark ``setup_spark_files``). On CPython < 3.13 that re-reads the
    whole archive directory once per cached zipimporter, eagerly: a worker
    that imported from pyspark.zip caches ~16 of them (pyspark.zip, the
    spark-core jar, py4j), 0.2-0.4 s per task. With none cached, the call
    has nothing to re-read. A later import from a zip builds a fresh finder
    from ``zipimport._zip_directory_cache``, which is left alone, so the
    rebuild does not read the archive either.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


if __name__ == "__main__":
    sys.path[:] = startup_path(sys.path)
    import pyspark.daemon

    _release_zip_finders()
    pyspark.daemon.manager()
